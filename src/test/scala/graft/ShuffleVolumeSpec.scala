package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** RUNTIME shuffle-volume assertions: PlanGuardSpec pins how many
  * exchanges a plan has; this spec pins how much DATA actually moves
  * through them — the number that decides whether a plan survives a
  * 100× scale-up. Map-side combine, broadcast placement, and the
  * bounded-heap aggregate all claim to collapse the fact stream
  * BEFORE the wire; here the executed plan's own SQL metrics
  * (shuffleRecordsWritten per ShuffleExchange) prove it. AQE is off
  * in the measuring session so the executed tree is statically
  * traversable. */
class ShuffleVolumeSpec extends SparkSpec {

  private lazy val noAqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Total records written across every shuffle exchange of the
    * EXECUTED plan (fails loudly if the metric key ever renames). */
  private def shuffledRecords(df: DataFrame): Long = {
    df.collect()
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected at least one shuffle to measure")
    exchanges.map { e =>
      val m = e.metrics.getOrElse("shuffleRecordsWritten",
        fail(s"shuffleRecordsWritten metric missing; keys=${e.metrics.keys}"))
      m.value
    }.sum
  }

  private val factRows = 6005L // lineitem at sf0.001 (order of magnitude)

  test("partial aggregation collapses the fact stream before the exchange") {
    val n = shuffledRecords(SparkEntry.queries("q_pricing_summary")(noAqe, sfDir))
    // 4 flag×status groups × ≤4 map partitions + the 4-row sort
    // exchange: map-side combine means the wire carries group rows,
    // never the ~6k fact rows
    assert(n < 100, s"$n records shuffled — partial aggregation is not combining")
    noAqe.catalog.clearCache()
  }

  test("broadcast join ships zero fact rows through the shuffle") {
    val n = shuffledRecords(SparkEntry.queries("q_join_broadcast")(noAqe, sfDir))
    // the dim side broadcasts (no shuffle) and the join output is
    // aggregated before the final ORDER BY exchange
    assert(n < 100, s"$n records shuffled — the broadcast placement regressed")
    noAqe.catalog.clearCache()
  }

  test("bounded-heap top-k emits at most k rows per group per map partition") {
    val n = shuffledRecords(SparkEntry.queries("q_topk_heap")(noAqe, sfDir))
    // the heap aggregate's partial buffers carry ≤k pairs each; the
    // wire must see heap buffers + k-row outputs. Absolute cap pinned
    // to THIS fixture (factRows is the sf0.001 constant, so the
    // relative form would not scale anyway — and it is looser)
    assert(n < 1000,
      s"$n records shuffled — the heap aggregate stopped combining map-side")
    noAqe.catalog.clearCache()
  }

  test("the metric detects non-combining shapes (negative control)") {
    // distinct over an already-unique key: map-side combine removes
    // NOTHING, so the wire must see ~factRows — proving the other
    // tests' small numbers measure combining, not a metric that reads
    // zero for everything. (collect_list would NOT work as the
    // control: its partial buffers are one row-per-group carrying the
    // whole list, so record counts stay tiny even though bytes grow.)
    val df = Tables.lineitem(noAqe, sfDir)
      .select("l_orderkey", "l_linenumber").distinct()
    val n = shuffledRecords(df)
    assert(n > factRows / 2,
      s"only $n records shuffled for a non-combining aggregate — " +
        "the measurement itself is broken")
    noAqe.catalog.clearCache()
  }

  test("exact dedup shuffles hash-group rows, not document payloads") {
    val n = shuffledRecords(SparkEntry.queries("q_dedup_exact")(noAqe, sfDir))
    // one (hash → min id, count) row per distinct text + the ordered
    // output exchange — bounded by 2×distinct texts (500 docs)
    assert(n <= 1100, s"$n records shuffled — dedup is shipping raw rows")
    noAqe.catalog.clearCache()
  }

  test("grouped sample quantiles ship heap buffers, never the fact stream") {
    val n = shuffledRecords(
      SparkEntry.queries("q_sample_quantiles_grouped")(noAqe, sfDir))
    // the deliberate widen pass (single-task-scan guard) ships each
    // fact row ONCE before the parallel md5; after it the heap
    // exchange must carry only buffered samples (≤ 3 groups × map
    // partitions × k=256) — a non-combining draw would ship the fact
    // stream a second time
    assert(n < factRows + factRows / 2,
      s"$n records shuffled — the KMV heap draw stopped combining map-side")
    noAqe.catalog.clearCache()
  }

  test("bounded cut lookup's consuming action ships only cut metadata") {
    // Ranked.cutValuesByRank moves the fact stream through its ONE
    // range exchange at construction time (the bounded count collect
    // materializes the pinned relation), so the CONSUMING action's
    // plan — what re-executes on every downstream read — ships nothing
    // but the ≤|thresholds| matched rows and the result sort. A
    // regression toward ranking/joining every row in the final pass
    // shows up here as thousands of records immediately.
    val n = shuffledRecords(
      SparkEntry.queries("q_percentile_disc")(noAqe, sfDir))
    assert(n <= 100,
      s"$n records shuffled in the consuming action — the cut lookup is " +
        "re-shipping data rows")
    noAqe.catalog.clearCache()
  }

  test("weighted percentiles shuffle percentile metadata, never the stream") {
    // The round-16 rewrite reads the staged cumulative price census
    // (PriceStage, memoized through Staged — the census+window build
    // runs once per process and fixture dir while the query is built,
    // not in this consuming action) and reduces it with a
    // map-side-combining min/when aggregate: the consuming action's
    // wire carries only per-flag partial-aggregate rows plus the
    // 3-row result sort — never the distribution, never the stream.
    val n = shuffledRecords(
      SparkEntry.queries("q_weighted_percentile")(noAqe, sfDir))
    assert(n <= 200,
      s"$n records shuffled — the census aggregate stopped combining " +
        "map-side (or the stage collapsed back into the consuming plan)")
    noAqe.catalog.clearCache()
  }

  test("winsorize's consuming action ships group rows, never the census") {
    // Same staged-census contract: the bounds aggregate broadcasts,
    // the clip aggregate combines map-side — the wire sees per-flag
    // partials + the 3-row sort only.
    val n = shuffledRecords(
      SparkEntry.queries("q_winsorize")(noAqe, sfDir))
    assert(n <= 200,
      s"$n records shuffled — winsorize is re-shipping census rows")
    noAqe.catalog.clearCache()
  }
}
