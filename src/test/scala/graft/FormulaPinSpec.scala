package graft

import org.apache.spark.sql.DataFrame

/** Pins closed-form statistics and graph algorithms to EXTERNAL ground
  * truth — textbook worked examples hand-computed from the published
  * definitions on tiny crafted fixtures — the guard the DuckDB oracle
  * gate structurally cannot provide when the same hand authors both
  * engines' formulas (the round-13 Kruskal-Wallis /4 bug hash-matched
  * for 13 rounds because the oracle SQL mirrored the same mistake).
  * Convention per pin: build a fixture whose expected output is
  * derivable by hand from the DEFINITION (cited in the comment), run
  * the registered query function, assert the exact constants.
  * InferSpec holds the Kruskal-Wallis pins; this spec sweeps the rest
  * of the registry's closed-form statistics. */
class FormulaPinSpec extends SparkSpec {
  import spark.implicits._

  /** Write one table into a fresh fixture dir. Returns the dir; call
    * again with the same dir to add further tables. */
  private def fixture(tables: (String, DataFrame)*): String = {
    val dir = tempDir("formulapin")
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    }
    dir
  }

  // -------------------------------------------------------------------------
  // W45 k-core (distributed peel). Graph: triangle {1,2,3} plus the
  // tail 3-4-5-6. By definition (Seidman 1983), the 2-core is the
  // maximal subgraph with all degrees >= 2: peeling removes 6 (deg 1),
  // then 5, then 4 — three genuine peel rounds plus the confirming
  // round — leaving exactly the triangle with within-core degree 2.
  // This also exercises the loop's scale posture: the alive set stays
  // a distributed relation for all four rounds (no driver collect).
  // -------------------------------------------------------------------------
  test("k-core: triangle+tail peels to the triangle over 3 rounds (Seidman)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    // one order per customer; each edge contributes 3 unique shared
    // parts to BOTH endpoints, so shared-distinct-parts(u,v) = 3 for
    // exactly the edge pairs and 0 otherwise (minShared = 3)
    val custs = (1L to 6L).map(c => (c, "BUILDING"))
    val orders = (1L to 6L).map(c => (c, c)) // o_orderkey = o_custkey
    val items = edges.zipWithIndex.flatMap { case ((u, v), e) =>
      (1 to 3).flatMap(i => Seq((u, e * 10L + i), (v, e * 10L + i)))
    }
    val dir = fixture(
      "customer" -> custs.toDF("c_custkey", "c_mktsegment"),
      "orders" -> orders.toDF("o_orderkey", "o_custkey"),
      "lineitem" -> items.toDF("l_orderkey", "l_partkey"))
    val out = queries.Train.kcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      s"2-core must be the triangle with degree 2, got ${out.toSeq}")
  }

  test("k-core: a hot part key past the 1024 pair-census cap fails loudly") {
    // The pair explode materializes C(|cs|, 2) structs per part — fine
    // at TPC-H's ~30 customers/part, an executor-OOM hazard under a
    // skewed key at scale. The in-plan guard must RAISE (never
    // silently allocate) when one part's customer set exceeds the cap.
    val n = 1025L
    val custs = (1L to n).map(c => (c, "BUILDING"))
    val orders = (1L to n).map(c => (c, c))
    val items = (1L to n).map(c => (c, 1L)) // every customer shares part 1
    val dir = fixture(
      "customer" -> custs.toDF("c_custkey", "c_mktsegment"),
      "orders" -> orders.toDF("o_orderkey", "o_custkey"),
      "lineitem" -> items.toDF("l_orderkey", "l_partkey"))
    val e = intercept[Throwable] { queries.Train.kcore(spark, dir).collect() }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("pair-census cap"),
      s"expected the loud skew guard, got: ${msgs.take(300)}")
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  // -------------------------------------------------------------------------
  // W35 Welch's t-test. Groups click = {1,2,3,4,5}, view = {2,4,6}
  // (in whole units; v scales by 1e6 which cancels in t and df).
  // By Welch (1947): mean1 = 3, s1² = 2.5, mean2 = 4, s2² = 4;
  // se = s²/n → t = (3−4)/√(1/2 + 4/3) = −1/√(11/6) = −0.7385489459,
  // df = (11/6)²/((1/2)²/4 + (4/3)²/2) = (121/36)/(137/144) = 484/137
  //    = 3.5328467153.
  // -------------------------------------------------------------------------
  test("welch t-test: t = -0.73855, df = 484/137 (Welch 1947 definition)") {
    val rows =
      Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(v => (1L, ts("2024-01-10 00:00:00"), "click", v)) ++
      Seq(2.0, 4.0, 6.0).map(v => (2L, ts("2024-01-10 00:00:00"), "view", v))
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val r = queries.Infer.welchTtest(spark, dir).collect().head
    assert(r.getLong(0) == 5 && r.getLong(1) == 3)
    assert(math.abs(r.getDouble(4) - (-0.7385489458759964)) < 1e-9,
      s"t=${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 484.0 / 137.0) < 1e-9,
      s"df=${r.getDouble(5)}")
  }

  // -------------------------------------------------------------------------
  // W38 McNemar. Discordant cells b = n10 = 3, c = n01 = 1 (plus one
  // concordant-yes and one concordant-no user). McNemar (1947):
  // χ² = (b−c)²/(b+c) = 4/4 = 1; Edwards continuity correction:
  // (|b−c|−1)²/(b+c) = 1/4 = 0.25.
  // -------------------------------------------------------------------------
  test("mcnemar: chi2 = 1, continuity-corrected = 0.25 (McNemar 1947)") {
    def purch(u: Long, when: String, v: Double) =
      (u, ts(when), "purchase", v)
    val pre = "2024-01-10 00:00:00"; val post = "2024-01-20 00:00:00"
    val rows = Seq(
      // n10 = 3: big purchase pre only
      purch(1, pre, 95.0), purch(2, pre, 95.0), purch(3, pre, 95.0),
      // n01 = 1: big purchase post only
      purch(4, post, 95.0),
      // n11 = 1: both
      purch(5, pre, 95.0), purch(5, post, 95.0),
      // n00 = 1: small purchases only
      purch(6, pre, 5.0))
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val r = queries.Infer.mcnemar(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 3L, 1L, 1L)))
    assert(r.getDouble(4) == 1.0, s"chi2=${r.getDouble(4)}")
    assert(r.getDouble(5) == 0.25, s"chi2_cc=${r.getDouble(5)}")
  }

  // -------------------------------------------------------------------------
  // W40 sample size. Per-user purchase totals 100/200/300 cents:
  // mean = 200, s² = 10000 (n−1 denominator), δ = 2% of mean = 4.
  // Standard two-sample power formula (e.g. van Belle, "Statistical
  // Rules of Thumb"): n/arm = (z_{.975}+z_{.8})²·2σ²/δ² with
  // (1.959964+0.841621)² = 7.8489870956 (the registered constant) →
  // ceil(7.8489870956·20000/16) = ceil(9811.2338695) = 9812.
  // -------------------------------------------------------------------------
  test("sample size: n/arm = ceil((za+zb)^2 * 2 var / delta^2) = 9812") {
    val rows = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .map { case (u, v) => (u, ts("2024-01-10 00:00:00"), "purchase", v) }
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val r = queries.Infer.sampleSize(spark, dir).collect().head
    assert(r.getLong(0) == 3)
    assert(r.getDouble(1) == 200.0 && r.getDouble(2) == 10000.0)
    assert(r.getDouble(3) == 4.0)
    assert(r.getLong(4) == 9812L, s"n_per_arm=${r.getLong(4)}")
  }

  // -------------------------------------------------------------------------
  // W32 Wilson CI. k = 8 of n = 10, z = 1.96 — the standard worked
  // example (Wilson 1927; e.g. Newcombe 1998 table): interval
  // (0.4902, 0.9433).
  // -------------------------------------------------------------------------
  test("wilson interval: 8/10 successes -> (0.4902, 0.9433) (Wilson 1927)") {
    val docs = (1 to 8).map(i => (s"d$i", "en", 400L)) ++
      Seq(("d9", "en", 100L), ("d10", "en", 100L))
    val dir = fixture("documents" -> docs.toDF("doc_id", "lang", "n_chars"))
    val r = queries.Infer.wilsonCi(spark, dir).collect().head
    assert(r.getLong(1) == 10 && r.getLong(2) == 8)
    assert(r.getDouble(3) == 0.8)
    assert(math.abs(r.getDouble(4) - 0.4902) < 5e-5, s"lo=${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 0.9433) < 5e-5, s"hi=${r.getDouble(5)}")
  }

  // -------------------------------------------------------------------------
  // W33 CUPED. Users (x pre-cents, y post-cents): (100,200), (200,400),
  // (300,500), (400,700); variant = user parity. By Deng et al. 2013:
  // θ = cov(x,y)/var(x) = (n·Σxy−ΣxΣy)/(n·Σxx−(Σx)²)
  //   = (2120000−1800000)/(1200000−1000000) = 1.6, x̄ = 250.
  // Variant 1 (users 1,3): ȳ = 350, adj = 350 − 1.6·(200−250) = 430.
  // Variant 0 (users 2,4): ȳ = 550, adj = 550 − 1.6·(300−250) = 470.
  // Population var_y = 22500 both; var_adj = (90000 − 2·1.6·60000
  //   + 1.6²·40000)/4 = 100 both.
  // -------------------------------------------------------------------------
  test("cuped: theta = cov/var = 1.6, adjusted means 430/470 (Deng 2013)") {
    val pre = "2024-01-10 00:00:00"; val post = "2024-01-20 00:00:00"
    val users = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 5.0), (4L, 4.0, 7.0))
    val rows = users.flatMap { case (u, x, y) =>
      Seq((u, ts(pre), "view", x), (u, ts(post), "view", y)) }
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val out = queries.Infer.cuped(spark, dir).collect()
    val byV = out.map(r => r.getInt(0) -> r).toMap
    assert(byV(1).getDouble(2) == 350.0 && byV(1).getDouble(3) == 430.0)
    assert(byV(0).getDouble(2) == 550.0 && byV(0).getDouble(3) == 470.0)
    out.foreach { r =>
      assert(r.getDouble(4) == 22500.0, s"var_y=${r.getDouble(4)}")
      assert(math.abs(r.getDouble(5) - 100.0) < 1e-9, s"var_adj=${r.getDouble(5)}")
    }
  }

  // -------------------------------------------------------------------------
  // W42 difference-in-differences. Cell means (cents): control
  // 100→150 (drift +50), treated 200→325 (+125). The 2×2 DiD
  // estimator (Card & Krueger form): (325−200) − (150−100) = 75.
  // -------------------------------------------------------------------------
  test("difference-in-differences: (325-200)-(150-100) = 75") {
    val pre = "2024-01-10 00:00:00"; val post = "2024-01-20 00:00:00"
    val rows = Seq(
      (2L, ts(pre), "purchase", 1.0), (2L, ts(post), "purchase", 1.5),
      (1L, ts(pre), "purchase", 2.0), (1L, ts(post), "purchase", 3.25))
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val r = queries.Infer.did(spark, dir).collect().head
    assert(r.getDouble(5) == 200.0 && r.getDouble(6) == 325.0)
    assert(r.getDouble(7) == 100.0 && r.getDouble(8) == 150.0)
    assert(r.getDouble(9) == 75.0, s"did=${r.getDouble(9)}")
  }

  // -------------------------------------------------------------------------
  // W41 grouped multiple regression. Exact-fit data: y = 2q + 3d + 5
  // on the non-collinear design {(1,1),(2,1),(1,2),(3,2)} — the
  // normal equations (Cramer) must recover β = (2, 3), intercept 5
  // exactly (perfect fit ⇒ unique least-squares solution).
  // -------------------------------------------------------------------------
  test("multiple regression: exact fit recovers beta = (2,3), intercept 5") {
    val pts = Seq((1L, 1L), (2L, 1L), (1L, 2L), (3L, 2L))
    val rows = pts.map { case (q, d) =>
      val cents = 2 * q + 3 * d + 5
      ("A", q.toDouble, d / 100.0, cents / 100.0)
    }
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_quantity", "l_discount", "l_extendedprice"))
    val r = queries.Infer.regrMulti(spark, dir).collect().head
    assert(r.getDouble(2) == 2.0, s"beta_qty=${r.getDouble(2)}")
    assert(r.getDouble(3) == 3.0, s"beta_disc=${r.getDouble(3)}")
    assert(r.getDouble(4) == 5.0, s"intercept=${r.getDouble(4)}")
  }

  /** Monthly-series fixture for the lineitem-based series statistics:
    * one lineitem row per month under flag "A", so monthly revenue
    * cents x = 100·price and monthly quantity y = 100·qty. */
  private def monthlyFixture(series: Seq[(Double, Double)]): String = {
    val rows = series.zipWithIndex.map { case ((price, qty), i) =>
      ("A", java.sql.Date.valueOf(f"2024-${i + 1}%02d-05"), price, qty)
    }
    fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice", "l_quantity"))
  }

  // -------------------------------------------------------------------------
  // G30 Kendall τ-b and G32 γ / Somers' D. Series ranks x = (1,2,2,3),
  // y = (1,2,3,3): pairs C = 4, D = 0, tx = 1, ty = 1, n₀ = 6.
  // Kendall (1945) τ-b = (C−D)/√((n₀−tx)(n₀−ty)) = 4/√25 = 0.8;
  // Goodman-Kruskal (1954) γ = (C−D)/(C+D) = 1;
  // Somers (1962) D_yx = (C−D)/(n₀−ty) = 4/5 = 0.8.
  // -------------------------------------------------------------------------
  test("kendall tau-b: C=4 D=0 tx=ty=1 -> tau = 0.8 (Kendall 1945)") {
    val dir = monthlyFixture(Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 3.0)))
    val r = queries.Evaluate.kendallTau(spark, dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((4L, 4L, 0L)))
    assert(r.getDouble(4) == 0.8, s"tau=${r.getDouble(4)}")
  }

  test("ordinal association: gamma = 1.0, Somers' D = 0.8 (same census)") {
    val dir = monthlyFixture(Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 3.0)))
    val r = queries.Evaluate.ordinalAssoc(spark, dir).collect().head
    assert(r.getDouble(2) == 1.0, s"gamma=${r.getDouble(2)}")
    assert(r.getDouble(3) == 0.8, s"somers_d=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // TS16 ACF / TS19 PACF. Series x = (1,2,3,4,5): deviations
  // (−2,−1,0,1,2), Σd² = 10. Box-Jenkins sample ACF r_k =
  // Σd_t d_{t+k}/Σd²: r1 = 4/10, r2 = −1/10, r3 = −4/10, r4 = −4/10.
  // Durbin-Levinson PACF: φ11 = 2/5; φ22 = (r2−r1²)/(1−r1²) = −13/42;
  // φ21 = r1(1−φ22) = 11/21; φ33 = (r3−φ21·r2−φ22·r1)/
  // (1−φ21·r1−φ22·r2) = −94/319.
  // -------------------------------------------------------------------------
  test("acf: series 1..5 -> r = 0.4, -0.1, -0.4, -0.4 (Box-Jenkins)") {
    val dir = monthlyFixture((1 to 5).map(i => (i.toDouble, 1.0)))
    val out = queries.Evaluate.acf(spark, dir).collect()
      .map(r => r.getInt(1) -> r.getDouble(3)).toMap
    assert(out(1) == 0.4 && out(2) == -0.1)
    assert(out(3) == -0.4 && out(4) == -0.4)
  }

  test("pacf: Durbin-Levinson gives -13/42 and -94/319 at lags 2,3") {
    val dir = monthlyFixture((1 to 5).map(i => (i.toDouble, 1.0)))
    val r = queries.Evaluate.pacf(spark, dir).collect().head
    assert(r.getDouble(2) == 0.4, s"pacf1=${r.getDouble(2)}")
    assert(r.getDouble(3) == math.rint(-13.0 / 42.0 * 1e6) / 1e6,
      s"pacf2=${r.getDouble(3)}")
    assert(r.getDouble(4) == math.rint(-94.0 / 319.0 * 1e6) / 1e6,
      s"pacf3=${r.getDouble(4)}")
  }

  // -------------------------------------------------------------------------
  // W50 one-way ANOVA. Groups [1,2,3], [2,3,4], [4,5,6] (cents):
  // group means 2,3,5, grand 10/3 → SSB = 3(16+1+25)/9 = 14,
  // SSW = 2+2+2 = 6, F = (14/2)/(6/6) = 7 exactly (Fisher's
  // decomposition; every ⌊S²/n⌋ is integral here, so no floor slack).
  // -------------------------------------------------------------------------
  test("anova: three textbook groups -> SSB 14, SSW 6, F = 7.0 (Fisher)") {
    val rows = Seq("A" -> 1, "A" -> 2, "A" -> 3, "B" -> 2, "B" -> 3, "B" -> 4,
      "C" -> 4, "C" -> 5, "C" -> 6).map { case (g, c) => (g, c / 100.0) }
    val dir = fixture("customer" -> rows.toDF("c_mktsegment", "c_acctbal"))
    val r = queries.Evaluate.anova(spark, dir).collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 9)
    assert(r.getLong(2) == 14L && r.getLong(3) == 6L)
    assert(r.getDouble(4) == 7.0, s"F=${r.getDouble(4)}")
  }

  // -------------------------------------------------------------------------
  // W51 Brown-Forsythe. Groups [0,2,4,10] (median 3) and [1,3,5,7]
  // (median 4): |dev| = [3,1,1,7] and [3,1,1,3]; ANOVA on those
  // (Brown & Forsythe 1974): SSB = 2, SSW = 28, F = 2/(28/6) = 3/7.
  // At the engine's 4× scale: ssb = 32, ssw = 448, same F.
  // -------------------------------------------------------------------------
  test("brown-forsythe: F on |x - group median| = 3/7 (Brown-Forsythe 1974)") {
    val rows = (Seq(0, 2, 4, 10).map("A" -> _) ++ Seq(1, 3, 5, 7).map("B" -> _))
      .map { case (g, c) => (g, c / 100.0) }
    val dir = fixture("customer" -> rows.toDF("c_mktsegment", "c_acctbal"))
    val r = queries.Evaluate.brownForsythe(spark, dir).collect().head
    assert(r.getLong(2) == 32L && r.getLong(3) == 448L)
    assert(r.getDouble(4) == math.rint(3.0 / 7.0 * 1e6) / 1e6,
      s"F=${r.getDouble(4)}")
  }

  // -------------------------------------------------------------------------
  // W55 Cochran-Armitage. Bands (score, n, responders) = (0,10,2),
  // (1,10,5), (2,10,8): N = 30, R = 15, Σsn = 30, Σsr = 21, Σs²n = 50.
  // Armitage (1955): Z² = N(NΣsr−RΣsn)²/(R(N−R)(NΣs²n−(Σsn)²))
  //   = 30·180²/(15·15·600) = 7.2 → z = √7.2 = 2.683282, "trend".
  // -------------------------------------------------------------------------
  test("cochran-armitage: perfect linear trend -> z = sqrt(7.2) (Armitage 1955)") {
    def band(price: Double, nF: Int, nO: Int) =
      (1 to nF).map(_ => (price, "F")) ++ (1 to nO).map(_ => (price, "O"))
    val rows = band(100.0, 2, 8) ++ band(200000.0, 5, 5) ++ band(400000.0, 8, 2)
    val dir = fixture("orders" -> rows.toDF("o_totalprice", "o_orderstatus"))
    val r = queries.Evaluate.cochranArmitage(spark, dir).collect().head
    assert(r.getLong(0) == 30 && r.getLong(1) == 15)
    assert(r.getDouble(2) == math.rint(math.sqrt(7.2) * 1e6) / 1e6,
      s"z=${r.getDouble(2)}")
    assert(r.getString(3) == "trend")
  }

  // -------------------------------------------------------------------------
  // G33 Hodges-Lehmann. Series x = (1,2,6) dollars: Walsh averages
  // {1, 1.5, 3.5, 2, 4, 6}, median = (2+3.5)/2 = 2.75 (Hodges &
  // Lehmann 1963 pseudomedian); plain median = 2.
  // -------------------------------------------------------------------------
  test("hodges-lehmann: pseudomedian of {1,2,6} = 2.75 (Hodges-Lehmann 1963)") {
    val dir = monthlyFixture(Seq((1.0, 1.0), (2.0, 1.0), (6.0, 1.0)))
    val r = queries.Evaluate.hodgesLehmann(spark, dir).collect().head
    assert(r.getLong(1) == 6)
    assert(r.getDouble(2) == 2.75, s"hl=${r.getDouble(2)}")
    assert(r.getDouble(3) == 2.0)
  }

  // -------------------------------------------------------------------------
  // W54 log-rank. Group 1 (BUILDING) event days {1,2}; group 0 days
  // {1,3}, no censoring. Risk table (Mantel 1966): t=1: d=2, n=4,
  // n1=2 → E=1, V=1/3; t=2: d=1, n=2, n1=1 → E=.5, V=.25; t=3: E=V=0.
  // O1 = 2, E1 = 1.5, V = 7/12 → χ² = 0.25/(7/12) = 3/7 = 0.428571.
  // -------------------------------------------------------------------------
  test("log-rank: chi2 = 3/7 on the two-group worked example (Mantel 1966)") {
    val custs = Seq((1L, "BUILDING"), (2L, "BUILDING"), (3L, "AUTOMOBILE"), (4L, "AUTOMOBILE"))
    val ord = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).map { case (o, c) =>
      (o, java.sql.Date.valueOf("2024-01-01"), c) }
    val ship = Seq(1L -> "2024-01-02", 2L -> "2024-01-03",
      3L -> "2024-01-02", 4L -> "2024-01-04")
      .map { case (o, d) => (o, java.sql.Date.valueOf(d)) }
    val dir = fixture(
      "customer" -> custs.toDF("c_custkey", "c_mktsegment"),
      "orders" -> ord.toDF("o_orderkey", "o_orderdate", "o_custkey"),
      "lineitem" -> ship.toDF("l_orderkey", "l_shipdate"))
    val r = queries.Evaluate.logrank(spark, dir).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getLong(2) == 2)
    assert(r.getLong(3) == 1500000000L, s"E1nano=${r.getLong(3)}")
    assert(r.getLong(4) == 583333333L, s"Vnano=${r.getLong(4)}")
    assert(r.getDouble(5) == 0.428571, s"chi2=${r.getDouble(5)}")
    assert(r.getString(6) == "no_evidence")
  }

  // -------------------------------------------------------------------------
  // G31 jackknife ratio. Rows (a,b) = (200,100), (400,100): R = 3,
  // leave-one-out replicates 4 and 2 → Efron's delete-one SE
  // = √((n−1)/n · Σ(Rᵢ−R̄)²) = √(0.5·2) = 1 exactly.
  // -------------------------------------------------------------------------
  test("jackknife ratio: SE = 1.0 on the two-row exact case (Efron)") {
    val rows = Seq(("A", 2.0, 1.0), ("A", 4.0, 1.0))
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity"))
    val r = queries.Evaluate.jackknifeRatio(spark, dir).collect().head
    assert(r.getDouble(2) == 3.0, s"r_hat=${r.getDouble(2)}")
    assert(r.getDouble(3) == 1.0, s"jk_se=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // L39 capture-recapture. doc_ids 0..11, distinct texts: sample 1 =
  // evens (n1=6), sample 2 = multiples of 3 (n2=4), overlap {0,6}
  // (m=2). Chapman (1951): ⌊(6+1)(4+1)/(2+1)⌋ − 1 = ⌊35/3⌋ − 1 = 10.
  // -------------------------------------------------------------------------
  test("capture-recapture: Chapman estimate 10 of true 12 (Chapman 1951)") {
    val docs = (0L to 11L).map(i => (i, "en", s"unique text $i"))
    val dir = fixture("documents" -> docs.toDF("doc_id", "lang", "text"))
    val r = queries.Evaluate.captureRecapture(spark, dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((6L, 4L, 2L)))
    assert(r.getLong(4) == 10L, s"chapman=${r.getLong(4)}")
    assert(r.getLong(5) == 12L)
  }

  // -------------------------------------------------------------------------
  // C13 Horvitz-Thompson. All orders in the mid stratum (π = 1/2,
  // weight 2); sample membership comes from the md5 coin, recomputed
  // here INDEPENDENTLY via java.security.MessageDigest. HT (1952):
  // estimate = Σ_{sampled} cents/π must equal 2·cents·|sampled|.
  // -------------------------------------------------------------------------
  test("horvitz-thompson: inverse-probability total matches the independent coin") {
    val keys = (1L to 30L)
    def coin(k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 10
    }
    val sampled = keys.count(coin(_) < 5)
    val rows = keys.map(k => (k, 200000.0, "1-URGENT"))
    val dir = fixture("orders" ->
      rows.toDF("o_orderkey", "o_totalprice", "o_orderpriority"))
    val r = queries.Evaluate.horvitzThompson(spark, dir).collect().head
    assert(r.getLong(1) == 30 && r.getLong(2) == sampled.toLong)
    assert(r.getLong(3) == 30L * 20000000L)
    assert(r.getLong(4) == 2L * 20000000L * sampled,
      s"est=${r.getLong(4)} sampled=$sampled")
  }

  // -------------------------------------------------------------------------
  // L42 BLEU-2. Candidate "the the the cat" vs reference "the cat sat"
  // — Papineni et al. 2002's clipping example: p1 = (min(3,1)+1)/4 =
  // 1/2, p2 = 1/3 ("the cat" clips to 1, of 3 candidate bigrams),
  // bp = 1 (candidate longer) → BLEU-2 = √(1/6) = 0.4082.
  // -------------------------------------------------------------------------
  test("bleu-2: clipped precision example -> sqrt(1/6) = 0.4082 (Papineni 2002)") {
    val docs = Seq((1L, "en", "the the the cat"), (2L, "en", "the cat sat"))
    val dir = fixture("documents" -> docs.toDF("doc_id", "lang", "text"))
    val r = queries.Evaluate.bleu(spark, dir).collect()
      .find(_.getLong(1) == 1L).get
    assert(r.getDouble(2) == 0.5, s"p1=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 1.0 / 3.0) < 1e-12, s"p2=${r.getDouble(3)}")
    assert(r.getDouble(4) == 1.0, s"bp=${r.getDouble(4)}")
    assert(r.getDouble(5) == 0.4082, s"bleu2=${r.getDouble(5)}")
  }

  // -------------------------------------------------------------------------
  // W18 two-sample KS. R lands in bins {1,2,3}, N in {2,3,4}, one
  // each: ECDFs (1/3,2/3,1,1) vs (0,1/3,2/3,1) — D = max gap = 1/3
  // (Kolmogorov-Smirnov definition).
  // -------------------------------------------------------------------------
  test("ks test: shifted uniform supports -> D = 1/3 (Kolmogorov-Smirnov)") {
    val rows = Seq(("R", 150.0), ("R", 250.0), ("R", 350.0),
      ("N", 250.0), ("N", 350.0), ("N", 450.0))
    val dir = fixture("lineitem" -> rows.toDF("l_returnflag", "l_extendedprice"))
    val r = queries.Warehouse.ksTest(spark, dir).collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 3)
    assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12, s"D=${r.getDouble(2)}")
  }

  // -------------------------------------------------------------------------
  // W19 two-proportion z. Arms 2/4 vs 1/4 converted: pooled p = 3/8,
  // z = (0.5−0.25)/√(0.375·0.625·(1/4+1/4)) = 0.25/√(15/128)
  //   = 0.7302967 (Fleiss' pooled form).
  // -------------------------------------------------------------------------
  test("ab test: pooled two-proportion z = 0.730297 (Fleiss)") {
    // conv requires >= 14 purchases; seg = user parity
    def user(u: Long, purchases: Int) = (1 to purchases).map(i =>
      (u, ts("2024-01-10 00:00:00"), "purchase", 1.0)) :+
      ((u, ts("2024-01-10 00:00:00"), "view", 1.0))
    val rows = Seq(2L -> 14, 4L -> 14, 6L -> 1, 8L -> 1,   // seg0: 2/4
      1L -> 14, 3L -> 1, 5L -> 1, 7L -> 1)                 // seg1: 1/4
      .flatMap { case (u, p) => user(u, p) }
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val r = queries.Warehouse.abTest(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 2L, 4L, 1L)))
    assert(math.abs(r.getDouble(6) - 0.7302967433402214) < 1e-9,
      s"z=${r.getDouble(6)}")
  }

  // -------------------------------------------------------------------------
  // W7 chi-square independence + W66 Cramér's V / Theil's U on the
  // 2×2 table [[10,20],[20,10]]: E = 15 in every cell, each χ² term
  // (O−E)²/E = 25/15 = 5/3, total χ² = 20/3 (Pearson 1900);
  // V = √(χ²/(n·(min(r,c)−1))) = √((20/3)/60) = 1/3 (Cramér 1946);
  // U = (H(L)−H(L|S))/H(L) = (ln2 − 0.6365142)/ln2 = 0.081704
  // (Theil 1970).
  // -------------------------------------------------------------------------
  private def contingencyFixture(): String = {
    val rows = Seq(("l1", "s1", 10), ("l1", "s2", 20), ("l2", "s1", 20), ("l2", "s2", 10))
      .flatMap { case (l, s, n) => (1 to n).map(_ => (l, s)) }
    fixture("documents" -> rows.toDF("lang", "source"))
  }

  test("chi2 independence: every 2x2 cell term = 5/3 (Pearson 1900)") {
    val out = queries.Warehouse.chi2Independence(spark, contingencyFixture()).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getDouble(3) == 15.0, s"E=${r.getDouble(3)}")
      assert(math.abs(r.getDouble(4) - 5.0 / 3.0) < 1e-12,
        s"term=${r.getDouble(4)}")
    }
  }

  test("cramers v = 1/3 and theil u = 0.081704 on the same table") {
    val r = queries.Warehouse.cramersTheil(spark, contingencyFixture()).collect().head
    assert(r.getLong(0) == 60)
    assert(r.getDouble(3) == 6.666667, s"chi2=${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.333333, s"v=${r.getDouble(4)}")
    assert(r.getDouble(5) == 0.693147, s"h_lang=${r.getDouble(5)}")
    assert(math.abs(r.getDouble(7) - 0.081704) <= 1e-6, s"u=${r.getDouble(7)}")
  }

  // -------------------------------------------------------------------------
  // W12 PSI. Bins (era A count, era B count) = (30,20), (10,20),
  // totals 40/40. With the registered Laplace smoothing p = (n+1)/
  // (t+10): bin0 term = (0.62−0.42)·ln(31/21) = 0.0778930, bin1 term
  // = (0.22−0.42)·ln(11/21) = 0.1293254 (PSI definition).
  // -------------------------------------------------------------------------
  test("psi drift: smoothed (p-q)ln(p/q) terms match hand values") {
    def orderRows(n: Int, price: Double, date: String) =
      (1 to n).map(_ => (price, java.sql.Date.valueOf(date)))
    val rows = orderRows(30, 10000.0, "1996-03-01") ++
      orderRows(10, 60000.0, "1996-03-01") ++
      orderRows(20, 10000.0, "1998-03-01") ++
      orderRows(20, 60000.0, "1998-03-01")
    val dir = fixture("orders" -> rows.toDF("o_totalprice", "o_orderdate"))
    val out = queries.Warehouse.psiDrift(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(math.abs(out(0) - 0.0778930) < 1e-6, s"term0=${out(0)}")
    assert(math.abs(out(1) - 0.1293254) < 1e-6, s"term1=${out(1)}")
  }

  // -------------------------------------------------------------------------
  // W10 simple regression. Exact fit y = 3x + 7 on x = 1,2,3 — the
  // least-squares closed form must recover slope 3, intercept 7.
  // -------------------------------------------------------------------------
  test("regression slope: exact fit recovers slope 3, intercept 7") {
    val rows = Seq(("A", 1.0, 0.10), ("A", 2.0, 0.13), ("A", 3.0, 0.16))
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_quantity", "l_extendedprice"))
    val r = queries.Trend.regrSlope(spark, dir).collect().head
    assert(r.getDouble(2) == 3.0, s"slope=${r.getDouble(2)}")
    assert(r.getDouble(3) == 7.0, s"intercept=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // TS8 STL-style decomposition. A pure linear series c_t = 100t: the
  // 13-term centered moving average of a linear sequence equals its
  // center, so trend = cents, seasonal = 0, residual = 0 exactly (the
  // classical-decomposition identity on a trend-only series).
  // -------------------------------------------------------------------------
  test("seasonal decomposition: linear series -> trend = series, zero seasonal/residual") {
    val rows = (1 to 25).map { t =>
      val ym = 2022 * 12 + (t - 1)
      (java.sql.Date.valueOf(f"${ym / 12}%04d-${ym % 12 + 1}%02d-10"), t * 1.0)
    }
    val dir = fixture("orders" -> rows.toDF("o_orderdate", "o_totalprice"))
    val out = queries.Trend.stlDecompose(spark, dir).collect()
    assert(out.length == 13) // months 7..19 have a full 13-term frame
    out.foreach { r =>
      assert(r.getDouble(2) == r.getLong(1).toDouble,
        s"trend=${r.getDouble(2)} cents=${r.getLong(1)}")
      assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0,
        s"seasonal=${r.getDouble(3)} residual=${r.getDouble(4)}")
    }
  }

  // -------------------------------------------------------------------------
  // W22 delta-method ratio variance. Variant 0's orders are exactly
  // proportional (x = 200y) → Var(R) = 0 (the delta form's defining
  // zero); variant 1 has constant y → Var(R) = Var(x)/(n·ȳ²) =
  // 40000/2 = 20000 (population variance, matching the /n form).
  // -------------------------------------------------------------------------
  test("ratio test: delta-method variance 0 under proportionality, var(x)/(n ybar^2) otherwise") {
    val rows = Seq((2L, 2.0, 1.0), (4L, 4.0, 2.0),   // seg0: x=200y
      (1L, 1.0, 1.0), (3L, 5.0, 1.0))                // seg1: y const
    val dir = fixture("lineitem" ->
      rows.toDF("l_orderkey", "l_extendedprice", "l_quantity"))
    val out = queries.Trend.ratioTest(spark, dir).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out(0).getDouble(4) == 200.0 && out(0).getDouble(5) == 0.0,
      s"seg0 var=${out(0).getDouble(5)}")
    assert(out(1).getDouble(4) == 300.0 && out(1).getDouble(5) == 20000.0,
      s"seg1 var=${out(1).getDouble(5)}")
  }

  // -------------------------------------------------------------------------
  // TS14 Theil-Sen. Monthly y = 1,2,3,10 cents: pairwise slopes
  // {1,1,1,3,4,7}, Sen slope = median = (1+3)/2 = 2 (Sen 1968) —
  // the outlier month pulls OLS but not the pairwise median;
  // S = +6, τ = 1 (all pairs increasing).
  // -------------------------------------------------------------------------
  test("theil-sen: median pairwise slope = 2.0 against the outlier (Sen 1968)") {
    val rows = Seq(("2024-01-10", 0.01), ("2024-02-10", 0.02),
      ("2024-03-10", 0.03), ("2024-04-10", 0.10))
      .map { case (d, p) => (java.sql.Date.valueOf(d), p) }
    val dir = fixture("orders" -> rows.toDF("o_orderdate", "o_totalprice"))
    val r = queries.Trend.theilSen(spark, dir).collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 6)
    assert(r.getDouble(2) == 2.0, s"sen=${r.getDouble(2)}")
    assert(r.getLong(3) == 6L && r.getDouble(4) == 1.0)
  }

  // -------------------------------------------------------------------------
  // W48 Mann-Kendall. Flag A: y = (1,3,2,4) → S = 4, var = n(n−1)
  // (2n+5)/18 = 156/18, z = (S−1)/√(156/18) = 1.019049 (Kendall 1975,
  // continuity-corrected). Flag B: y = (1,2,2,3) → S = 5 with one
  // tied pair, tie term t(t−1)(2t+5) = 18 → var_num = 138.
  // -------------------------------------------------------------------------
  test("mann-kendall: S, tie-corrected variance, and z match Kendall 1975") {
    val rows = Seq(("A", 1, 1.0), ("A", 2, 3.0), ("A", 3, 2.0), ("A", 4, 4.0),
      ("B", 1, 1.0), ("B", 2, 2.0), ("B", 3, 2.0), ("B", 4, 3.0))
      .map { case (f, mth, p) =>
        (f, java.sql.Date.valueOf(f"2024-$mth%02d-10"), p) }
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice"))
    val out = queries.Train.mannKendall(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getLong(2) == 4L && out("A").getLong(3) == 156L)
    assert(math.abs(out("A").getDouble(4) - 1.019049) <= 1e-6,
      s"zA=${out("A").getDouble(4)}")
    assert(out("A").getString(5) == "no_trend")
    assert(out("B").getLong(2) == 5L && out("B").getLong(3) == 138L,
      s"B: S=${out("B").getLong(2)} var=${out("B").getLong(3)}")
  }

  // -------------------------------------------------------------------------
  // W49 runs test. Series 1,9,2,8,3: median 3 drops its own month,
  // the rest alternate below/above → R = 4 runs, n1 = n2 = 2.
  // Wald-Wolfowitz (1940): E = 2n1n2/n + 1 = 3, Var = 8·4/(16·3) =
  // 2/3, z = 1/√(2/3) = 1.224745.
  // -------------------------------------------------------------------------
  test("runs test: alternating series -> z = sqrt(3/2) (Wald-Wolfowitz 1940)") {
    val prices = Seq(1.0, 9.0, 2.0, 8.0, 3.0)
    val rows = prices.zipWithIndex.map { case (p, i) =>
      ("A", java.sql.Date.valueOf(f"2024-${i + 1}%02d-10"), p) }
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice"))
    val r = queries.Train.runsTest(spark, dir).collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getDouble(4) == math.rint(math.sqrt(1.5) * 1e6) / 1e6,
      s"z=${r.getDouble(4)}")
  }

  // -------------------------------------------------------------------------
  // W46 SPRT. Wald (1945) with H0 p=0.3, H1 p=0.4, α=β=0.05:
  // LLR = s·ln(4/3) − f·ln(7/6); boundary ln((1−β)/α) = ln 19.
  // Day 1: s=4, f=6 → LLR = 0.225824, "continue"; cumulative day 2:
  // s=24, f=6 → LLR = 5.979466 ≥ ln 19, "accept_h1".
  // -------------------------------------------------------------------------
  test("sprt: Wald LLR chain and the ln 19 boundary decision") {
    def ev(day: String, typ: String, n: Int) = (1 to n).map(_ =>
      (2L, ts(s"$day 12:00:00"), typ, 1.0))
    val rows = ev("2024-01-10", "click", 4) ++ ev("2024-01-10", "view", 6) ++
      ev("2024-01-11", "purchase", 20)
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val out = queries.Train.sprt(spark, dir).collect()
    assert(out.length == 2)
    assert(out(0).getLong(2) == 10 && out(0).getLong(3) == 4)
    assert(out(0).getDouble(4) == 0.225824, s"llr1=${out(0).getDouble(4)}")
    assert(out(0).getString(5) == "continue")
    assert(out(1).getLong(2) == 30 && out(1).getLong(3) == 24)
    assert(out(1).getDouble(4) == 5.979466, s"llr2=${out(1).getDouble(4)}")
    assert(out(1).getString(5) == "accept_h1")
  }

  // -------------------------------------------------------------------------
  // TS15 Holt. A constant series is a fixpoint of Holt's recurrence
  // (L_t = y, B_t = 0 for every t once L_1 = y_1): 12 months of
  // constant 500-cent revenue must forecast exactly 5 dollars with
  // zero trend (Holt 1957 definitional invariant).
  // -------------------------------------------------------------------------
  test("holt smoothing: constant series is a fixpoint -> forecast = level, trend 0") {
    val rows = (1 to 12).map(mth =>
      ("A", java.sql.Date.valueOf(f"2024-$mth%02d-10"), 5.0))
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice"))
    val r = queries.Train.holtTrend(spark, dir).collect().head
    assert(r.getLong(1) == 500L * 4194304L, s"level=${r.getLong(1)}")
    assert(r.getLong(2) == 0L, s"trend=${r.getLong(2)}")
    assert(r.getDouble(4) == 5.0, s"forecast=${r.getDouble(4)}")
  }

  // -------------------------------------------------------------------------
  // W16 ROC-AUC. Positives score bins {2,3}, negatives {1,2}: of the
  // 4 (pos, neg) pairs, 3 wins + 1 tie → Mann-Whitney AUC =
  // (3 + 0.5)/4 = 0.875 (Hanley-McNeil equivalence).
  // -------------------------------------------------------------------------
  test("roc-auc: 3 wins + 1 tie of 4 pairs -> 0.875 (Mann-Whitney)") {
    val rows = Seq(("R", 2500.0), ("R", 3500.0), ("N", 1500.0), ("N", 2500.0))
      .map { case (f, p) => (f, "O", p) }
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_linestatus", "l_extendedprice"))
    val r = queries.Linkage.aucGrouped(spark, dir).collect().head
    assert(r.getLong(1) == 2 && r.getLong(2) == 4)
    assert(r.getDouble(3) == 0.875, s"auc=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // W17 Gini. Balances {1,2,3,4}: sorted-rank form G = (2Σi·xᵢ −
  // (n+1)Σxᵢ)/(nΣxᵢ) = (60−50)/40 = 0.25 — the standard worked value
  // for {1,2,3,4}.
  // -------------------------------------------------------------------------
  test("gini: balances 1..4 -> 0.25 (sorted-rank form)") {
    val rows = (1 to 4).map(i => (1L, i.toLong, i / 100.0))
    val dir = fixture("customer" -> rows.toDF("c_nationkey", "c_custkey", "c_acctbal"))
    val r = queries.Linkage.giniBalance(spark, dir).collect().head
    assert(r.getLong(1) == 4)
    assert(r.getDouble(2) == 0.25, s"gini=${r.getDouble(2)}")
  }

  // -------------------------------------------------------------------------
  // W62 Theil T. Balances {1,1,4} cents: T = Σ(xᵢ/S)ln(n·xᵢ/S)
  //   = 2·(1/6)ln(1/2) + (2/3)ln 2 = (1/3)ln 2 = 0.2310490 (Theil
  // 1967); the engine's 1e-9 term quantization may shave ≤2e-9/term.
  // -------------------------------------------------------------------------
  test("theil index: {1,1,4} -> ln(2)/3 (Theil 1967)") {
    val rows = Seq(0.01, 0.01, 0.04).zipWithIndex.map { case (b, i) => (1L, i.toLong, b) }
    val dir = fixture("customer" -> rows.toDF("c_nationkey", "c_custkey", "c_acctbal"))
    val r = queries.Linkage.theilIndex(spark, dir).collect().head
    assert(r.getLong(1) == 3)
    assert(math.abs(r.getDouble(3) - math.log(2.0) / 3.0) < 1e-8,
      s"theil=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // W39 Brier + Murphy decomposition. Bins p = 0.2 (5 rows, 1 pos)
  // and p = 0.8 (5 rows, 4 pos) — perfectly calibrated: REL = 0,
  // RES = Σn_k(ō_k−ō)²/N = 0.09, UNC = 0.5·0.5 = 0.25, and the
  // Murphy (1973) identity REL−RES+UNC = 0.16 equals the raw Brier.
  // -------------------------------------------------------------------------
  private def brierFixture(): String = {
    def rowsOf(qty: Double, nPos: Int, nNeg: Int) =
      (1 to nPos).map(_ => ("R", qty)) ++ (1 to nNeg).map(_ => ("N", qty))
    val rows = rowsOf(10.0, 1, 4) ++ rowsOf(40.0, 4, 1)
    fixture("lineitem" -> rows.toDF("l_returnflag", "l_quantity"))
  }

  test("brier: calibrated bins -> REL 0, RES 0.09, UNC 0.25, Brier 0.16 (Murphy 1973)") {
    val r = queries.Linkage.brier(spark, brierFixture()).collect().head
    assert(r.getLong(0) == 10)
    assert(r.getDouble(1) == 0.16, s"raw=${r.getDouble(1)}")
    assert(r.getDouble(2) == 0.0, s"rel=${r.getDouble(2)}")
    // the engine floor-quantizes each bin's contribution at 1e-6, so
    // the decomposition terms may sit ≤1e-6/bin below the exact value
    assert(math.abs(r.getDouble(3) - 0.09) < 3e-7, s"res=${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.25, s"unc=${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 0.16) < 3e-7, s"binned=${r.getDouble(5)}")
    assert(r.getDouble(5) == r.getDouble(2) - r.getDouble(3) + r.getDouble(4),
      "Murphy identity REL - RES + UNC must hold exactly on the outputs")
  }

  test("calibration: calibrated bins -> mean_pred = empirical, gap 0") {
    val out = queries.Linkage.calibration(spark, brierFixture()).collect()
    assert(out.length == 2)
    val byBin = out.map(r => r.getLong(0) -> r).toMap
    assert(byBin(2L).getDouble(3) == 0.2 && byBin(2L).getDouble(4) == 0.2)
    assert(byBin(8L).getDouble(3) == 0.8 && byBin(8L).getDouble(4) == 0.8)
    out.foreach(r => assert(r.getDouble(5) == 0.0, s"gap=${r.getDouble(5)}"))
  }

  // -------------------------------------------------------------------------
  // G22 mutual information. Perfectly dependent 2×2 (status ↔
  // priority, 30+30): I(X;Y) = H(X) = H(Y) = ln 2 (Shannon 1948) —
  // the "one determines the other" extreme.
  // -------------------------------------------------------------------------
  test("mutual information: perfect dependence -> MI = H = ln 2 (Shannon)") {
    val rows = (1 to 30).map(_ => ("F", "1-URGENT")) ++
      (1 to 30).map(_ => ("O", "5-LOW"))
    val dir = fixture("orders" -> rows.toDF("o_orderstatus", "o_orderpriority"))
    val r = queries.Metrics.mutualInfo(spark, dir).collect().head
    assert(r.getLong(0) == 60)
    assert(math.abs(r.getDouble(1) - math.log(2.0)) < 1e-8, s"mi=${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - math.log(2.0)) < 1e-8)
    assert(math.abs(r.getDouble(3) - math.log(2.0)) < 1e-8)
  }

  // -------------------------------------------------------------------------
  // W27 Cohen's kappa. Confusion [[20,5],[10,15]]: po = 0.7,
  // pe = (25·30 + 25·20)/50² = 0.5 → κ = (0.7−0.5)/(1−0.5) = 0.4
  // (Cohen 1960).
  // -------------------------------------------------------------------------
  test("cohens kappa: po 0.7, pe 0.5 -> kappa = 0.4 (Cohen 1960)") {
    def cell(a: String, prio: String, n: Int) = (1 to n).map(_ => (a, prio))
    val rows = cell("O", "1-URGENT", 20) ++ cell("O", "4-NOT SPECIFIED", 5) ++
      cell("F", "1-URGENT", 10) ++ cell("F", "4-NOT SPECIFIED", 15)
    val dir = fixture("orders" -> rows.toDF("o_orderstatus", "o_orderpriority"))
    val r = queries.Metrics.cohensKappa(spark, dir).collect().head
    assert(r.getLong(0) == 50 && r.getLong(1) == 35)
    assert(r.getDouble(2) == 0.7 && r.getDouble(3) == 0.5)
    assert(math.abs(r.getDouble(4) - 0.4) < 1e-12, s"kappa=${r.getDouble(4)}")
  }

  // -------------------------------------------------------------------------
  // G10 Spearman. Ranks (1,2,3) vs (3,1,2): ρ = 1 − 6Σd²/(n(n²−1))
  //   = 1 − 36/24 = −0.5 (Spearman 1904).
  // -------------------------------------------------------------------------
  test("spearman: rank permutation (3,1,2) -> rho = -0.5 (Spearman 1904)") {
    val rows = Seq(("A", 1.0, 0.03), ("A", 2.0, 0.01), ("A", 3.0, 0.02))
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_quantity", "l_extendedprice"))
    val r = queries.Pipeline.rankCorr(spark, dir).collect().head
    assert(math.abs(r.getDouble(2) - (-0.5)) < 1e-12, s"rho=${r.getDouble(2)}")
  }

  // -------------------------------------------------------------------------
  // L4q KL and L30 JS. Sources A = "a a a b", B = "a b b b": corpus
  // is uniform, so KL(A‖C) = KL(B‖C) = ¾ln(3/2) + ¼ln(1/2)
  //   = 0.1308120 (Kullback-Leibler 1951); and since the pairwise
  // mixture M equals the corpus here, JS(A,B) = ½KL(A‖M)+½KL(B‖M)
  //   = 0.1308120 too (Lin 1991).
  // -------------------------------------------------------------------------
  private val klExpected = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)

  test("kl divergence: 3:1 vs uniform -> 0.130812 (Kullback-Leibler)") {
    val docs = Seq((1L, "A", "a a a b"), (2L, "B", "a b b b"))
    val dir = fixture("documents" -> docs.toDF("doc_id", "source", "text"))
    val out = queries.Corpus.klSources(spark, dir).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 4)
      assert(math.abs(r.getDouble(2) - klExpected) < 1e-7,
        s"kl(${r.getString(0)})=${r.getDouble(2)} want $klExpected")
    }
  }

  test("js divergence: symmetric 3:1 sources -> 0.130812 (Lin 1991)") {
    val docs = Seq((1L, "A", "a a a b"), (2L, "B", "a b b b"))
    val dir = fixture("documents" -> docs.toDF("doc_id", "source", "text"))
    val r = queries.Corpus.jsDivergence(spark, dir).collect().head
    assert(r.getString(0) == "A" && r.getString(1) == "B" && r.getLong(2) == 2)
    assert(math.abs(r.getDouble(3) - klExpected) < 1e-7, s"js=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // SP4 Moran's I. The grid coordinates come from the engine's md5
  // geo-hash, so the pin recomputes them INDEPENDENTLY (MessageDigest)
  // and evaluates Moran (1950)'s definition I = (n/W)·Σwᵢⱼzᵢzⱼ/Σzᵢ²
  // with queen adjacency in plain BigInt/double arithmetic.
  // -------------------------------------------------------------------------
  test("morans i: engine matches the definition on independently hashed cells") {
    val ids = (1L to 120L)
    val dir = fixture("events" -> // Tables.events touches ts in its schema dispatch
      ids.map(i => (i, ts("2024-01-10 00:00:00"))).toDF("event_id", "ts"))
    def h8(sfx: String, from: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"egeo|$sfx".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(from, from + 8), 16) % 1000000L
    }
    val cells = ids.map { i =>
      (math.floor(40.0 + h8(i.toString, 0) / 1e6 * 10.0).toInt,
        math.floor(h8(i.toString, 8) / 1e6 * 10.0).toInt)
    }.groupBy(identity).map { case (c, v) => (c._1, c._2, v.size.toLong) }.toSeq
    val n = cells.size.toLong
    val sx = cells.map(_._3).sum
    val z = cells.map { case (jy, jx, x) => ((jy, jx), BigInt(x) * n - sx) }.toMap
    var num = BigInt(0); var w = 0L
    for (((ay, ax), za) <- z; ((by, bx), zb) <- z
         if !(ay == by && ax == bx) && (ay - by).abs <= 1 && (ax - bx).abs <= 1) {
      num += za * zb; w += 1
    }
    val den = z.values.map(v => v * v).sum
    val expected = (n.toDouble / w.toDouble) * (num.toDouble / den.toDouble)
    val r = queries.Joins.moransI(spark, dir).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == w)
    assert(math.abs(r.getDouble(2) - expected) < 1e-9,
      s"I=${r.getDouble(2)} want $expected")
    assert(r.getDouble(3) == -1.0 / (n - 1).toDouble)
  }

  // -------------------------------------------------------------------------
  // W65 Benjamini-Hochberg. The p-bounds are engine-derived, so the
  // pin checks the PROCEDURE (BH 1995) from the output itself: crit
  // = rank·α/m, and rejected == rank ≤ k* where k* = max{r : p_r ≤
  // crit_r} — including the rule that every rank below k* is
  // rejected even if its own p exceeds its crit.
  // -------------------------------------------------------------------------
  test("bh screen: output satisfies the Benjamini-Hochberg 1995 procedure") {
    def seg(ck: Long, s: String) = (ck, s)
    val custs = Seq(seg(1, "BUILDING"), seg(2, "AUTOMOBILE"), seg(3, "MACHINERY"))
    val rnd = new scala.util.Random(7)
    val orders = (1 to 90).map { i =>
      val ck = (i % 3 + 1).toLong
      val prio = if (i % 2 == 0) "1-URGENT" else "5-LOW"
      // segment 1's urgent orders priced systematically higher so at
      // least one cell separates from the grand mean
      val base = if (ck == 1 && prio == "1-URGENT") 90000.0 else 1000.0
      (i.toLong, ck, prio, base + rnd.nextInt(100))
    }
    val dir = fixture(
      "customer" -> custs.toDF("c_custkey", "c_mktsegment"),
      "orders" -> orders.toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"))
    val out = queries.Infer.bhScreen(spark, dir).collect()
    val m = out.length
    assert(out.map(_.getLong(4)).sorted.toSeq == (1L to m).toSeq)
    out.foreach { r =>
      val p = r.getDouble(3); val rank = r.getLong(4); val crit = r.getDouble(5)
      assert(p >= 0.0 && p <= 1.0)
      assert(math.abs(crit - rank * 0.10 / m) < 1e-8)
    }
    val passing = out.filter(r => r.getDouble(3) <= r.getDouble(5)).map(_.getLong(4))
    val kStar = if (passing.isEmpty) 0L else passing.max
    out.foreach { r =>
      assert((r.getInt(6) == 1) == (r.getLong(4) <= kStar),
        s"rank ${r.getLong(4)}: rejected=${r.getInt(6)} kStar=$kStar")
    }
    assert(kStar >= 1, "fixture should reject at least the separated cell")
  }

  // -------------------------------------------------------------------------
  // W34 Poisson bootstrap — no external table exists for a
  // hash-coin-deterministic bootstrap (the draw IS the engine's md5
  // convention), so the pin checks what the definition does fix: the
  // point estimate is the exact mean, the band is ordered around it,
  // and there are exactly 64 replicates.
  // -------------------------------------------------------------------------
  test("bootstrap: exact point mean, ordered band, 64 replicates (design doc)") {
    val rows = (1L to 200L).map(k => (k, (100 + k % 7).toDouble))
    val dir = fixture("orders" -> rows.toDF("o_orderkey", "o_totalprice"))
    val r = queries.Infer.bootstrapCi(spark, dir).collect().head
    val exact = rows.map(x => math.round(x._2 * 100)).sum.toDouble / rows.size
    assert(r.getLong(0) == 64)
    assert(r.getDouble(1) == exact, s"point=${r.getDouble(1)} want $exact")
    assert(r.getDouble(2) <= r.getDouble(3), "lo <= hi")
    assert(r.getDouble(2) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(3),
      "band brackets the point estimate on a near-constant fixture")
  }

  // -------------------------------------------------------------------------
  // TS20 Durbin-Watson. y_t = 10t + z with z ⊥ {1, t}, so the OLS
  // residuals are exactly z (Durbin-Watson 1950). Flag A: z =
  // (1,−1,−1,1) → DW = (4+0+4)/4 = 2 (the no-autocorrelation value);
  // flag B: z = (−1,3,−3,1) → DW = (16+36+16)/20 = 3.4 (alternating).
  // -------------------------------------------------------------------------
  test("durbin-watson: exact residuals give DW = 2.0 and 3.4 (Durbin-Watson 1950)") {
    val rows =
      Seq(11, 19, 29, 41).zipWithIndex.map { case (c, i) =>
        ("A", java.sql.Date.valueOf(f"2024-${i + 1}%02d-05"), c / 100.0, 1.0) } ++
      Seq(9, 23, 27, 41).zipWithIndex.map { case (c, i) =>
        ("B", java.sql.Date.valueOf(f"2024-${i + 1}%02d-05"), c / 100.0, 1.0) }
    val dir = fixture("lineitem" ->
      rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice", "l_quantity"))
    val out = queries.Evaluate.durbinWatson(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("A") == 2.0, s"dwA=${out("A")}")
    assert(out("B") == 3.4, s"dwB=${out("B")}")
  }

  // -------------------------------------------------------------------------
  // TS21 Ljung-Box. Series 1..5 (ACF r = .4, −.1, −.4, −.4, 4 lags):
  // Q = n(n+2)Σr²/(n−k) = 35·(.16/4 + .01/3 + .16/2 + .16/1)
  //   = 9.916667 (Ljung-Box 1978); < 7 months → 'insufficient'.
  // -------------------------------------------------------------------------
  test("ljung-box: Q = 35 * 0.2833... = 9.916667 (Ljung-Box 1978)") {
    val dir = monthlyFixture((1 to 5).map(i => (i.toDouble, 1.0)))
    val r = queries.Evaluate.ljungBox(spark, dir).collect().head
    assert(r.getLong(1) == 5 && r.getLong(2) == 4)
    assert(r.getDouble(3) == 9.916667, s"q=${r.getDouble(3)}")
    assert(r.getString(4) == "insufficient")
  }

  // -------------------------------------------------------------------------
  // W67 Friedman. 4 blocks × 3 treatments with within-block rank
  // sums (10, 8, 6): χ²_F = 12/(4·3·4)·(100+64+36) − 3·4·4 = 2.0
  // (Friedman 1937); no ties, so the scipy-convention corrected form
  // is identical.
  // -------------------------------------------------------------------------
  test("friedman: rank sums (10,8,6) over 4 blocks -> chi2 = 2.0 (Friedman 1937)") {
    val t = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
    // per-block cents for (T1, T2, T3); rank patterns (3,2,1)x2,
    // (2,1,3), (2,3,1)
    val blocks = Seq(Seq(30, 20, 10), Seq(30, 20, 10), Seq(20, 10, 30), Seq(20, 30, 10))
    val rows = blocks.zipWithIndex.flatMap { case (cs, b) =>
      cs.zip(t).map { case (c, trt) =>
        (java.sql.Date.valueOf(f"2024-${b + 1}%02d-10"), trt, c / 100.0) }
    }
    val dir = fixture("orders" ->
      rows.toDF("o_orderdate", "o_orderpriority", "o_totalprice"))
    val r = queries.Infer.friedman(spark, dir).collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 2.0, s"chi2=${r.getDouble(2)}")
    assert(r.getDouble(3) == 2.0, s"chi2_tc=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // W68 HHI. Revenue shares (0.5, 0.3, 0.2): HHI = 0.25+0.09+0.04
  //   = 0.38, effective customers = 1/0.38 = 2.63 — the standard
  // antitrust worked example (Herfindahl 1950, ×10⁴ = 3800 on the
  // DOJ scale).
  // -------------------------------------------------------------------------
  test("hhi: shares (.5,.3,.2) -> 0.38, effective n = 2.63 (Herfindahl)") {
    val custs = Seq((1L, "BUILDING"), (2L, "BUILDING"), (3L, "BUILDING"))
    val orders = Seq((1L, 1L, 0.50), (2L, 2L, 0.30), (3L, 3L, 0.20))
    val dir = fixture(
      "customer" -> custs.toDF("c_custkey", "c_mktsegment"),
      "orders" -> orders.toDF("o_orderkey", "o_custkey", "o_totalprice"))
    val r = queries.Warehouse.hhi(spark, dir).collect().head
    assert(r.getLong(1) == 3)
    assert(r.getDouble(2) == 0.38, s"hhi=${r.getDouble(2)}")
    assert(r.getDouble(3) == 2.63, s"eff=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // W69 G-test. Same 2×2 table as the Pearson pin ([[10,20],[20,10]],
  // E = 15): G = 2ΣO·ln(O/E) = 2(2·20·ln(4/3) + 2·10·ln(2/3))
  //   = 6.7959615 (Sokal & Rohlf); df = 1. Note G > χ² = 6.667 here,
  // the usual likelihood-ratio vs Pearson spread.
  // -------------------------------------------------------------------------
  test("g-test: 2x2 table -> G = 6.795961, df 1 (likelihood-ratio chi2)") {
    val r = queries.Warehouse.gTest(spark, contingencyFixture()).collect().head
    assert(r.getLong(0) == 60 && r.getLong(1) == 1)
    assert(math.abs(r.getDouble(2) - 6.7959615) < 1e-6, s"g=${r.getDouble(2)}")
  }

  test("k-core: a pure path has an empty 2-core (full peel-out)") {
    // path 1-2-3-4-5: ends peel first, the middle follows — the
    // definitional degenerate case (no subgraph with min degree 2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val custs = (1L to 5L).map(c => (c, "BUILDING"))
    val orders = (1L to 5L).map(c => (c, c))
    val items = edges.zipWithIndex.flatMap { case ((u, v), e) =>
      (1 to 3).flatMap(i => Seq((u, e * 10L + i), (v, e * 10L + i)))
    }
    val dir = fixture(
      "customer" -> custs.toDF("c_custkey", "c_mktsegment"),
      "orders" -> orders.toDF("o_orderkey", "o_custkey"),
      "lineitem" -> items.toDF("l_orderkey", "l_partkey"))
    assert(queries.Train.kcore(spark, dir).collect().isEmpty)
  }

  // -------------------------------------------------------------------------
  // W73 Cohen's d / Hedges' g. The Welch fixture: click {1..5}
  // (mean 3, s² = 2.5, n 5), view {2,4,6} (mean 4, s² = 4, n 3).
  // Pooled s² = (4·2.5 + 2·4)/6 = 3, so d = (3−4)/√3 = −1/√3
  // (Cohen 1969) and J = 1 − 3/(4·8 − 9) = 20/23 gives
  // g = −20/(23√3) (Hedges 1981).
  // -------------------------------------------------------------------------
  test("cohens d: -1/sqrt(3), hedges g = -20/(23 sqrt(3)) (Hedges 1981)") {
    val rows =
      Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(v =>
        (1L, ts("2024-01-10 00:00:00"), "click", v)) ++
      Seq(2.0, 4.0, 6.0).map(v => (2L, ts("2024-01-10 00:00:00"), "view", v))
    val dir = fixture("events" -> rows.toDF("user_id", "ts", "event_type", "value"))
    val r = queries.Infer.cohensD(spark, dir).collect().head
    assert(r.getLong(0) == 5 && r.getLong(1) == 3)
    assert(math.abs(r.getDouble(2) - (-1.0 / math.sqrt(3.0))) < 1e-6,
      s"d=${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - (-20.0 / (23.0 * math.sqrt(3.0)))) < 1e-6,
      s"g=${r.getDouble(3)}")
  }

  // -------------------------------------------------------------------------
  // W74 odds ratio. 2×2 cells a=10, b=20, c=20, d=10 built from
  // order priority/status: OR = 100/400 = 0.25, RR = (10/30)/(20/30)
  // = 0.5, Woolf CI = exp(ln .25 ∓ 1.959964·√(.1+.05+.05+.1))
  // (Woolf 1955) — re-derived below from the definition.
  // -------------------------------------------------------------------------
  test("odds ratio: OR 0.25, RR 0.5, Woolf CI from the definition") {
    val rows =
      (1 to 10).map(i => (i.toLong, "1-URGENT", "F")) ++
      (1 to 20).map(i => (100L + i, "2-HIGH", "O")) ++
      (1 to 20).map(i => (200L + i, "5-LOW", "F")) ++
      (1 to 10).map(i => (300L + i, "4-NOT SPECIFIED", "O"))
    val dir = fixture("orders" ->
      rows.toDF("o_orderkey", "o_orderpriority", "o_orderstatus"))
    val r = queries.Infer.oddsRatio(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 20L, 20L, 10L)))
    assert(r.getDouble(4) == 0.25 && r.getDouble(5) == 0.5,
      s"or=${r.getDouble(4)} rr=${r.getDouble(5)}")
    val se = math.sqrt(0.1 + 0.05 + 0.05 + 0.1)
    val lo = math.exp(math.log(0.25) - 1.959964 * se)
    val hi = math.exp(math.log(0.25) + 1.959964 * se)
    assert(math.abs(r.getDouble(6) - lo) < 1e-6, s"lo=${r.getDouble(6)}")
    assert(math.abs(r.getDouble(7) - hi) < 1e-6, s"hi=${r.getDouble(7)}")
  }

  // -------------------------------------------------------------------------
  // W70 Tukey HSD. Groups A{1,2,3}, B{2,3,4}, C{6,7,8} dollars
  // (cents 100..800): means 200/300/700 cents, every group SS =
  // 20000, SSW = 60000, MSW = 60000/6 = 10000. Equal n = 3, so
  // se = √(MSW/2 · 2/3) = 100/√3 and (Tukey 1949):
  //   q_AB = 100/(100/√3) = √3, q_AC = 5√3, q_BC = 4√3.
  // -------------------------------------------------------------------------
  test("tukey hsd: three textbook groups -> q = sqrt(3), 5 sqrt(3), 4 sqrt(3)") {
    val rows = Seq(1, 2, 3).map(v => ("A", v.toDouble)) ++
      Seq(2, 3, 4).map(v => ("B", v.toDouble)) ++
      Seq(6, 7, 8).map(v => ("C", v.toDouble))
    val dir = fixture("customer" -> rows.toDF("c_mktsegment", "c_acctbal"))
    val r = queries.Evaluate.tukeyHsd(spark, dir).collect()
    assert(r.length == 3)
    val q = r.map(x => ((x.getString(0), x.getString(1)),
      (x.getDouble(4), x.getDouble(5)))).toMap
    val s3 = math.sqrt(3.0)
    assert(q(("A", "B"))._1 == -100.0 &&
      math.abs(q(("A", "B"))._2 - s3) < 1e-6, s"AB=${q(("A", "B"))}")
    assert(q(("A", "C"))._1 == -500.0 &&
      math.abs(q(("A", "C"))._2 - 5 * s3) < 1e-6, s"AC=${q(("A", "C"))}")
    assert(q(("B", "C"))._1 == -400.0 &&
      math.abs(q(("B", "C"))._2 - 4 * s3) < 1e-6, s"BC=${q(("B", "C"))}")
  }

  // -------------------------------------------------------------------------
  // W71 Bartlett. Groups A{1,2,3}, B{2,4,6}, C{3,6,9} dollars: cent
  // variances 10000/40000/90000 (n_j = 3 each), pooled S_p² =
  // 280000/6. By Bartlett (1937):
  //   χ² = [6·ln S_p² − 2(ln 10⁴ + ln 4·10⁴ + ln 9·10⁴)] / C,
  //   C = 1 + (3·½ − ⅙)/(3·2) = 11/9
  // — re-derived below straight from the definition (the engine
  // reaches it through 1e-9/1e-15 fixed-point term quantization,
  // hence the 5e-6 gate after its round-to-6).
  // -------------------------------------------------------------------------
  test("bartlett: variances 1:4:9 -> chi2 from the 1937 definition, df 2") {
    val rows = Seq(1, 2, 3).map(v => ("A", v.toDouble)) ++
      Seq(2, 4, 6).map(v => ("B", v.toDouble)) ++
      Seq(3, 6, 9).map(v => ("C", v.toDouble))
    val dir = fixture("customer" -> rows.toDF("c_mktsegment", "c_acctbal"))
    val r = queries.Evaluate.bartlett(spark, dir).collect().head
    val expected = (6.0 * math.log(280000.0 / 6.0) -
      2.0 * (math.log(10000.0) + math.log(40000.0) + math.log(90000.0))) /
      (11.0 / 9.0)
    assert(r.getLong(0) == 3 && r.getLong(1) == 9 && r.getLong(4) == 2)
    assert(r.getLong(2) == 280000L, s"ssw=${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - expected) < 5e-6,
      s"chi2=${r.getDouble(3)} expected=$expected")
  }

  // -------------------------------------------------------------------------
  // W72 Grubbs. Segment A = {1,1,1,5} dollars: mean 200 cents, s² =
  // (3·100² + 300²)/3 = 40000, s = 200, max deviation 300 → G = 3/2
  // EXACTLY (Grubbs 1969), suspect value 500 cents. Segment B is
  // constant — zero variance reads G = 0 by the documented guard.
  // -------------------------------------------------------------------------
  test("grubbs: {1,1,1,5} -> G = 1.5 exactly, suspect 500 cents") {
    val rows = Seq(1, 1, 1, 5).map(v => ("A", v.toDouble)) ++
      Seq(2, 2, 2).map(v => ("B", v.toDouble))
    val dir = fixture("customer" -> rows.toDF("c_mktsegment", "c_acctbal"))
    val r = queries.Evaluate.grubbs(spark, dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getDouble(2),
        x.getLong(3)))).toMap
    assert(r("A") == ((4L, 1.5, 500L)), s"A=${r("A")}")
    assert(r("B") == ((3L, 0.0, 200L)), s"B=${r("B")}")
  }
}
