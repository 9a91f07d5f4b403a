package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-5 audit/attribution/transport additions
  * (oracle equivalence is the driver gate; these pin semantics). */
class AuditSpec extends SparkSpec {

  test("ks statistic is in [0,1] and zero against itself") {
    val out = queries.Warehouse.ksTest(spark, sfDir).collect()
    assert(out.length == 1)
    val d = out.head.getDouble(2)
    assert(d >= 0.0 && d <= 1.0, s"ks_d out of range: $d")
    assert(out.head.getLong(0) > 0 && out.head.getLong(1) > 0)
    // identical samples → D = 0: recompute the same CDF against itself
    val binned = Tables.lineitem(spark, sfDir)
      .select(floor(col("l_extendedprice") / 100).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val self = binned.withColumn("c", sum(col("n")).over(w))
      .agg(max(abs(col("c").cast("double") - col("c").cast("double"))))
      .collect().head.getDouble(0)
    assert(self == 0.0)
  }

  test("ab test marginals are consistent and z is finite") {
    val r = queries.Warehouse.abTest(spark, sfDir).collect().head
    val (n1, c1, n2, c2) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(c1 <= n1 && c2 <= n2)
    assert(n1 > 0 && n2 > 0)
    assert(r.getDouble(4) == c1.toDouble / n1.toDouble)
    assert(!r.getDouble(6).isNaN && !r.getDouble(6).isInfinite)
  }

  test("attribution credits only non-purchase channels or 'direct'") {
    val out = queries.Trend.attribution(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ch = r.getString(3)
      assert(ch != "purchase", "a purchase must never attribute to itself")
    }
    // a user's FIRST event being a purchase must credit 'direct'
    val first = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))))
      .filter(col("rn") === 1 && col("event_type") === "purchase")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    if (first.nonEmpty) {
      val byId = out.map(r => r.getLong(0) -> r.getString(3)).toMap
      first.foreach(id => assert(byId(id) == "direct"))
    }
  }

  test("orc round-trip preserves every row and type bit-exactly") {
    // Same TOTAL order as orcRoundtrip: (orderkey, linenumber) alone is
    // not unique in the fixture, so the row-by-row zip needs the full
    // projected-column sort on both sides.
    val direct = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
    val roundtripped = queries.EtlQueries.orcRoundtrip(spark, sfDir)
    assert(roundtripped.schema == direct.schema)
    val a = roundtripped.collect()
    val b = direct.collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("expectations: exactly rules 5/7/8 fail on the fixture, passed ≡ zero violations") {
    val rows = queries.Audit.expectations(spark, sfDir).collect()
    assert(rows.length == 9)
    val failed = rows.filter(_.getInt(4) == 0).map(_.getInt(0)).toSet
    assert(failed == Set(5, 7, 8), s"failed rules: $failed")
    rows.foreach { r =>
      assert(r.getLong(2) > 0, s"rule ${r.getInt(0)}: n_checked")
      // the gate column must be the violations indicator, nothing else
      assert((r.getLong(3) == 0) == (r.getInt(4) == 1), s"rule ${r.getInt(0)}")
    }
    // rule 6 must agree with rules 1-4 on what "all fact rows" means:
    // its n_checked is Σ per-FK counts, theirs is count(*)
    val byId = rows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(byId(6) == byId(1))
  }

  test("expectations: an all-empty slice reports every rule passed with zero counts") {
    // the routine 100 TB event (pruned incremental day) must read as a
    // clean pass — a NULL-poisoned sum flipping `passed` to 0 would
    // block a healthy load at the scheduler gate
    val dir = tempDir("graft_exp_empty")
    Seq("lineitem", "orders").foreach { n =>
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          Tables.load(spark, sfDir, n).schema)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    val rows = queries.Audit.expectations(spark, dir).collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      assert(r.getLong(2) == 0 && r.getLong(3) == 0 && r.getInt(4) == 1,
        s"rule ${r.getInt(0)}: ${r.mkString(",")}")
    }
  }

  test("simpsons audit: signs cross-check against covar_pop; the sf0.01 flip fires") {
    // independent method: double-precision population covariance —
    // asserted only away from the float-noise region (|cov| > 1e-6;
    // the fixture's smallest magnitude is orders larger)
    val ref = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("stratum"),
        (col("l_discount").cast("double") * 100).as("x"),
        floor(col("l_quantity")).cast("double").as("y"))
      .groupBy(col("stratum"))
      .agg(covar_pop(col("x"), col("y")).as("cov"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val out = queries.Audit.simpsonsAudit(spark, sfDir).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val cov = ref(r.getString(0))
      if (math.abs(cov) > 1e-6)
        assert(r.getInt(2) == math.signum(cov).toInt,
          s"stratum ${r.getString(0)}: exact sign ${r.getInt(2)} vs covar_pop $cov")
      // flip indicator ≡ its definition, row by row
      val flip = if (r.getInt(2) != 0 && r.getInt(3) != 0 &&
        r.getInt(2) != r.getInt(3)) 1 else 0
      assert(r.getInt(4) == flip, s"stratum ${r.getString(0)}")
    }
    // one pooled sign, replicated onto every stratum row
    assert(out.map(_.getInt(3)).toSet.size == 1)
    // the documented reversal: at the oracle scale, strata A and N
    // trend positive against a negative pooled sign
    val oracleScale = queries.Audit.simpsonsAudit(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(oracleScale("A").getInt(4) == 1 && oracleScale("N").getInt(4) == 1,
      "expected the A/N Simpson flip at sf0.01")
    assert(oracleScale.values.forall(_.getInt(3) == -1))
  }
}
