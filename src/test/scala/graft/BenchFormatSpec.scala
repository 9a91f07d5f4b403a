package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench result line must stay (a) valid JSON and (b) short enough
  * for the harness's output-tail capture — the full-precision line
  * exceeded that window once and the whole round's bench went
  * unparsed. Uses Jackson (already on Spark's classpath). */
class BenchFormatSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("render is valid JSON with the driver's expected fields") {
    val line = Bench.renderJson(
      Seq("q_a" -> 1.23456789, "q_b" -> 0.000001), "/data/sf0.1")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(math.abs(node.get("value").asDouble() - 1.235) < 1e-9)
    assert(node.get("queries").get("q_a").asDouble() == 1.235)
    assert(!line.contains("\n"))
  }

  test("a full-inventory line keeps the headline total in its tail") {
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456789)
    val line = Bench.renderJson(results, "/root/testdata/sf0.1")
    assert(mapper.readTree(line).get("queries").size() == results.size)
    // Soft budget only: the load-bearing property is the tail check
    // below (the driver keeps the END of stdout, and the full line is
    // always persisted to BENCH_LOCAL.json anyway). 358 queries at
    // worst-case 3-decimal widths is ~9.1k chars; headroom for the
    // next rounds' inventory growth.
    assert(line.length < 13000, s"line is ${line.length} chars — capture window risk")
    // head truncation is the observed failure mode; the summary fields
    // must sit in the LAST 200 chars so a tail capture always has them
    val tail = line.takeRight(200)
    assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"),
      s"summary fields not in tail: ...${line.takeRight(120)}")
  }

  test("compact trailer line fits the driver's 2000-char tail window") {
    // The driver keeps the LAST 2000 chars of stdout and json-parses a
    // line out of it (BENCH_r08.json: tail length exactly 2000,
    // "parsed": null because the full line's head was cut). The compact
    // line is the one guaranteed-parseable record; it must fit the
    // window with ~200 chars of headroom for sbt's closing lines.
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456789)
    val env = Bench.Env(6.5, 8.2, 32, 70.5, 72.25)
    val line = Bench.renderCompactJson(results, "/root/testdata/sf0.1",
      Some(env), Some(false))
    assert(line.length < 1800, s"compact line is ${line.length} chars")
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    // total covers ALL queries, not just the shown subset
    assert(math.abs(node.get("value").asDouble() - 123.457 * results.size) < 0.5)
    assert(node.get("queries").size() == math.min(25, results.size))
    assert(node.get("queries_total_n").asInt() == results.size)
    assert(node.get("queries_shown").asInt() == math.min(25, results.size))
    assert(!line.contains("\n"))
  }

  test("regression self-report: >50% and >0.3s over history, floor skips jitter") {
    val hist = Map("q_a" -> 1.0, "q_b" -> 0.04, "q_c" -> 2.0, "q_d" -> 0.4)
    val res = Seq(
      "q_a" -> Bench.Sample(1.9, 1.8, 0.0), // 1.9x and +0.9s -> regression
      "q_b" -> Bench.Sample(0.5, 0.5, 0.0), // history under floor -> skipped
      "q_c" -> Bench.Sample(2.6, 2.5, 0.0), // +0.6s but only 1.3x -> no
      "q_d" -> Bench.Sample(0.65, 0.6, 0.0), // 1.6x but +0.25s -> no
      "q_e" -> Bench.Sample(9.0, 9.0, 0.0)) // no history -> no
    assert(Bench.regressionsVsHistory(res, hist) == Seq("q_a"))
    val p = Bench.ProbeInfo(25, Seq(1.0, 1.0), 1.0, Nil, Nil, 0.0, 5.0,
      regressions = Seq("q_a"))
    val line = Bench.renderJson(Seq("q_a" -> 1.9), "/d", probes = Some(p))
    val node = mapper.readTree(line)
    assert(node.get("regressions_n").asInt() == 1)
    assert(node.get("regressions").get(0).asText() == "q_a")
  }

  test("compact trailer keeps the slowest queries") {
    val results = Seq("q_fast" -> 0.1, "q_slow" -> 9.0, "q_mid" -> 1.0)
    val line = Bench.renderCompactJson(results, "/d", maxShown = 2)
    val node = mapper.readTree(line)
    assert(node.get("queries").has("q_slow") && node.get("queries").has("q_mid"))
    assert(!node.get("queries").has("q_fast"))
    assert(math.abs(node.get("value").asDouble() - 10.1) < 1e-9)
  }

  test("detailed render carries {wall, cpu, gc} per query plus the summary tail") {
    val line = Bench.renderDetailedJson(
      Seq("q_a" -> Bench.Sample(2.0, 1.5, 0.25), "q_b" -> Bench.Sample(1.0, 0.5, 0.0)),
      "/data/sf0.1")
    val node = mapper.readTree(line)
    assert(node.get("queries").get("q_a").get("wall").asDouble() == 2.0)
    assert(node.get("queries").get("q_a").get("cpu").asDouble() == 1.5)
    assert(node.get("queries").get("q_a").get("gc").asDouble() == 0.25)
    assert(node.get("value").asDouble() == 3.0)
    assert(node.get("cpu_total").asDouble() == 2.0)
    // same tail property as the stdout line: summary fields last
    val tail = line.takeRight(200)
    assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"))
    assert(!line.contains("\n"))
  }

  test("run-quality self-label: load averages and the contended flag") {
    val env = Bench.Env(loadStart = 3.5, loadEnd = 40.25, nproc = 32, probeStartMs = 70.5, probeEndMs = 150.0)
    // 3 non-trivial wall≫cpu+gc queries flip the sweep to contended
    val bad = (1 to 3).map(i => s"q_slow$i" -> Bench.Sample(5.0, 0.8, 0.1))
    val good = Seq("q_ok" -> Bench.Sample(2.0, 7.5, 0.2),
      "q_tiny" -> Bench.Sample(0.1, 0.01, 0.0)) // sub-0.75s never flags
    assert(Bench.contendedQueries(good).isEmpty)
    assert(!Bench.isContended(good ++ bad.take(2)))
    assert(Bench.isContended(good ++ bad))
    val line = Bench.renderJson((good ++ bad).map { case (n, s) => n -> s.wall },
      "/d", Some(env), Some(Bench.isContended(good ++ bad)))
    val node = mapper.readTree(line)
    assert(node.get("contended").asBoolean())
    assert(node.get("load_start").asDouble() == 3.5)
    assert(node.get("load_end").asDouble() == 40.25)
    assert(node.get("nproc").asInt() == 32)
    // summary fields still close the line (tail-capture property)
    val tail = line.takeRight(200)
    assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"))
    val det = Bench.renderDetailedJson(good ++ bad, "/d", Some(env))
    val dn = mapper.readTree(det)
    assert(dn.get("contended").asBoolean())
    assert(dn.get("contended_queries").size() == 3)
  }

  test("degraded-window detection: bordering CPU probe >1.35× OR engine >1.6×") {
    // probes are FENCEPOSTS (windows + 1): a window is degraded when
    // its leading OR trailing probe spikes — degradation starting
    // mid-window is only visible in the trailing one
    val probes = Seq(450.0, 460.0, 1200.0, 440.0, 670.0) // 4 windows
    // ref = min (440), cutoff 594: fenceposts 2 (1200) and 4 (670) are
    // bad → windows 1,2 (border fp 2) and 3 (trailing fp 4)
    assert(Bench.degradedWindows(probes, probes.min) == Seq(1, 2, 3))
    assert(Bench.degradedWindows(Seq(450.0, 460.0), 440.0).isEmpty)
    // the engine probe catches memory/IO contention the CPU spin can't
    // see: CPU calm, engine fencepost 1 spikes → windows 0 and 1
    val eng = Seq(300.0, 700.0, 310.0, 320.0, 305.0)
    assert(Bench.degradedWindows(Seq.fill(5)(450.0), 450.0,
      engineProbes = eng, engineRefMs = eng.min) == Seq(0, 1))
    // both signals fire → union, deduped and sorted
    assert(Bench.degradedWindows(probes, probes.min,
      engineProbes = eng, engineRefMs = eng.min) == Seq(0, 1, 2, 3))
    // a zero/absent engine reference disables the engine signal
    assert(Bench.degradedWindows(Seq.fill(5)(450.0), 450.0,
      engineProbes = eng, engineRefMs = 0.0).isEmpty)
    // probe evidence alone flips the sweep label to contended
    val calm = Seq("q_ok" -> Bench.Sample(1.0, 0.9, 0.05))
    assert(!Bench.isContended(calm, Seq.empty))
    assert(Bench.isContended(calm, Seq(2)))
  }

  test("probe/self-correction fields ride all three renderers") {
    val pi = Bench.ProbeInfo(windowSize = 25,
      probesMs = Seq(450.0, 1200.0), refMs = 450.0, degraded = Seq(1),
      rerun = Seq("q_x", "q_y"), rerunProbeMs = 455.0, valueRaw = 30.0)
    val walls = Seq("q_x" -> 2.0, "q_y" -> 3.0)
    val env = Bench.Env(1.0, 1.5, 32, 450.0, 452.0)
    val full = mapper.readTree(
      Bench.renderJson(walls, "/d", Some(env), Some(true), Some(pi)))
    assert(full.get("probes_ms").size() == 2)
    assert(full.get("degraded_windows").get(0).asInt() == 1)
    assert(full.get("rerun").size() == 2 && full.get("rerun_n").asInt() == 2)
    assert(full.get("value_raw").asDouble() == 30.0)
    assert(full.get("value_corrected").asDouble() == 5.0)
    assert(full.get("value").asDouble() == 5.0) // gate input = corrected
    val compact = mapper.readTree(Bench.renderCompactJson(
      walls, "/d", Some(env), Some(true), probes = Some(pi)))
    assert(compact.get("rerun_n").asInt() == 2)
    assert(compact.get("rerun") == null) // names only on unbounded lines
    assert(compact.get("value_raw").asDouble() == 30.0)
    val det = mapper.readTree(Bench.renderDetailedJson(
      Seq("q_x" -> Bench.Sample(2.0, 1.8, 0.1), "q_y" -> Bench.Sample(3.0, 2.7, 0.1)),
      "/d", Some(env), Some(pi), rawWalls = Map("q_x" -> 9.5)))
    assert(det.get("queries").get("q_x").get("wall_raw").asDouble() == 9.5)
    assert(det.get("queries").get("q_y").get("wall_raw") == null)
    assert(det.get("contended").asBoolean()) // degraded window ⇒ contended
    // summary fields still close every line (tail-capture property)
    for (line <- Seq(
        Bench.renderJson(walls, "/d", Some(env), Some(true), Some(pi)),
        Bench.renderCompactJson(walls, "/d", Some(env), Some(true), probes = Some(pi)),
        Bench.renderDetailedJson(Seq("q_x" -> Bench.Sample(2.0, 1.8, 0.1)),
          "/d", Some(env), Some(pi)))) {
      val tail = line.takeRight(200)
      assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"))
      assert(!line.contains("\n"))
    }
  }

  test("per-query history outlier rule: >2.5× committed wall, floor-guarded") {
    val hist = Map("q_slow" -> 2.0, "q_tiny" -> 0.01, "q_ok" -> 1.0)
    val raw = Seq(
      "q_slow" -> Bench.Sample(10.3, 9.0, 0.5), // 5.15× its history → flagged
      "q_tiny" -> Bench.Sample(0.2, 0.1, 0.0),  // 20× but sub-floor history → noise
      "q_ok"   -> Bench.Sample(1.4, 1.3, 0.0),  // 1.4× → calm
      "q_new"  -> Bench.Sample(9.9, 9.0, 0.0))  // no history → cannot judge
    assert(Bench.historyOutliers(raw, hist) == Seq("q_slow"))
    // exactly at the factor is NOT an outlier (strict >)
    assert(Bench.historyOutliers(
      Seq("q_ok" -> Bench.Sample(2.5, 2.0, 0.0)), hist).isEmpty)
    // empty history (non-default SF, missing file) disables the rule
    assert(Bench.historyOutliers(raw, Map.empty).isEmpty)
    // the outlier names ride the unbounded renderers next to `rerun`
    val pi = Bench.ProbeInfo(25, Seq(450.0, 452.0), 450.0, Seq.empty,
      rerun = Seq("q_slow"), rerunProbeMs = 451.0, valueRaw = 12.0,
      outlierRerun = Seq("q_slow"))
    val full = mapper.readTree(Bench.renderJson(
      Seq("q_slow" -> 2.1), "/d", None, Some(false), Some(pi)))
    assert(full.get("outlier_rerun").get(0).asText() == "q_slow")
    assert(full.get("outlier_n").asInt() == 1)
    val compact = mapper.readTree(Bench.renderCompactJson(
      Seq("q_slow" -> 2.1), "/d", None, Some(false), probes = Some(pi)))
    assert(compact.get("outlier_rerun") == null) // names only unbounded
    assert(compact.get("outlier_n").asInt() == 1)
  }

  test("compact trailer with full probe evidence still fits the tail window") {
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456789)
    // worst realistic shape: every window probed, several degraded
    val nw = (results.size + 24) / 25
    val pi = Bench.ProbeInfo(25, Seq.fill(nw)(1234.567), 445.0,
      (0 until nw).toSeq, results.take(150).map(_._1), 1234.5,
      results.size * 123.456789 * 2,
      engineProbesMs = Seq.fill(nw)(1234.567), engineRefMs = 300.0)
    val line = Bench.renderCompactJson(results, "/root/testdata/sf0.1",
      Some(Bench.Env(6.5, 8.2, 32, 445.0, 450.0)), Some(true), probes = Some(pi))
    assert(line.length < 1800, s"compact line is ${line.length} chars")
    assert(mapper.readTree(line).get("value") != null)
  }

  test("minimal last line: tiny, valid, and carries the driver's fields") {
    // This is the VERY LAST line the bench prints: it must parse even
    // under a far smaller tail window than the assumed 2000 chars, and
    // even if the driver's parser reads only the final stdout line.
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456789)
    val line = Bench.renderMinimalJson(results, "/root/testdata/sf0.1",
      valueRaw = Some(results.size * 123.456789 * 2), errorsN = 0)
    assert(line.length < 600, s"minimal line is ${line.length} chars")
    assert(!line.contains("\n"))
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(node.get("queries_total_n").asInt() == results.size)
    assert(node.get("queries").size() == 5) // contract field present
    assert(node.get("value_raw") != null && node.get("errors_n").asInt() == 0)
    assert(math.abs(node.get("value").asDouble() - 123.457 * results.size) < 0.5)
  }

  test("a throwing query is reported in errors/errors_n on every line") {
    // timeOne records the exception class of a query that throws; the
    // renderers must surface it so a fast-because-broken wall can never
    // read as a win. Names ride unbounded lines in full; the compact
    // line carries the count plus a capped map.
    val errs = Seq("q_bad" -> "SparkException", "q_worse" -> "IOException")
    val full = mapper.readTree(Bench.renderJson(
      Seq("q_bad" -> 0.001, "q_ok" -> 1.0), "/d", errors = errs))
    assert(full.get("errors_n").asInt() == 2)
    assert(full.get("errors").get("q_bad").asText() == "SparkException")
    assert(full.get("errors").get("q_worse").asText() == "IOException")
    val compact = mapper.readTree(Bench.renderCompactJson(
      Seq("q_bad" -> 0.001), "/d",
      errors = (1 to 20).map(i => s"q_e$i" -> "E")))
    assert(compact.get("errors_n").asInt() == 20)
    assert(compact.get("errors").size() == 12) // capped for the tail window
    val det = mapper.readTree(Bench.renderDetailedJson(
      Seq("q_bad" -> Bench.Sample(0.001, 0.0, 0.0)), "/d", errors = errs))
    assert(det.get("errors_n").asInt() == 2)
    // a clean sweep still carries the count (0), so absence of errors
    // is explicit, not ambiguous
    val clean = mapper.readTree(Bench.renderJson(Seq("q_ok" -> 1.0), "/d"))
    assert(clean.get("errors_n").asInt() == 0)
  }

  test("compact trailer elides the per-window probe arrays") {
    val results = SparkEntry.queries.keys.toSeq.sorted.map(_ -> 123.456789)
    val nw = (results.size + 24) / 25
    val pi = Bench.ProbeInfo(25, Seq.fill(nw + 1)(1234.567), 445.0,
      (0 until nw).toSeq, results.take(150).map(_._1), 1234.5,
      results.size * 123.456789 * 2,
      engineProbesMs = Seq.fill(nw + 1)(1234.567), engineRefMs = 300.0)
    val line = Bench.renderCompactJson(results, "/root/testdata/sf0.1",
      Some(Bench.Env(6.5, 8.2, 32, 445.0, 450.0)), Some(true), probes = Some(pi))
    val node = mapper.readTree(line)
    assert(node.get("probes_ms") == null && node.get("engine_probes_ms") == null)
    // the scalar probe evidence stays
    assert(node.get("probe_ref_ms") != null && node.get("rerun_n") != null)
    assert(node.get("degraded_windows").size() == nw)
    assert(line.length < 1400, s"compact line is ${line.length} chars")
  }

  test("locale independence: decimal point, not comma") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = Bench.renderJson(Seq("q" -> 1.5), "/d")
      assert(line.contains("1.500") && !line.contains("1,500"))
    } finally java.util.Locale.setDefault(prev)
  }

  test("the history merge leaves an errored query's committed min alone") {
    val hist = Map("q_a" -> 1.0, "q_b" -> 2.0)
    val walls = Seq("q_a" -> 0.5, "q_b" -> 0.001, "q_c" -> 0.7)
    assert(Bench.mergeHistory(hist, walls, Set("q_b")) ==
      Map("q_a" -> 0.5, "q_b" -> 2.0, "q_c" -> 0.7))
  }
}
