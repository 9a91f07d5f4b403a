package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's one stdout line must stay (a) valid JSON and (b) short
  * enough for the driver's output-tail capture — a full-inventory line
  * exceeded that window once and the whole round's bench went
  * unparsed. The persisted record carries everything else. Uses Jackson
  * (already on Spark's classpath). */
class BenchFormatSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val env = Bench.Env(6.5, 8.2, 32, 445.0, 450.0)
  private def probes(valueRaw: Double) =
    Bench.ProbeInfo(25, Seq(450.0, 452.0), 450.0, Nil, Nil, 0.0, valueRaw)
  private def samples(walls: Seq[(String, Double)]) =
    walls.map { case (n, w) => n -> Bench.Sample(w, w, 0.0) }
  private def record(results: Seq[(String, Bench.Sample)], p: Bench.ProbeInfo,
                     e: Bench.Env = env, rawWalls: Map[String, Double] = Map.empty,
                     errors: Seq[(String, String)] = Nil) =
    Bench.record(results, "/d", e, p, rawWalls, errors)

  // The driver keeps the LAST 2000 chars of stdout and json-parses a
  // line out of it (BENCH_r08.json: tail length exactly 2000,
  // "parsed": null because a 9k-char line's head was cut). The one
  // stdout line must fit that window with headroom for whatever
  // follows it, and name enough queries to compare rounds. Worst case
  // at full inventory: the longest names are the slowest, every wall
  // is 3-digit, every window degraded, 150 reruns and 20 errors.
  private lazy val fullNames = SparkEntry.queries.keys.toSeq.sortBy(n => (n.length, n))
  private lazy val fullResults = fullNames.zipWithIndex.map { case (n, i) =>
    n -> Bench.Sample(100.0 + i + 0.456789, 1.0, 0.0) }
  private lazy val fullProbes = {
    val nw = (fullResults.size + 24) / 25
    Bench.ProbeInfo(25, Seq.fill(nw + 1)(1234.567), 445.0,
      (0 until nw).toSeq, fullNames.take(150), 1234.5,
      fullResults.map(_._2.wall).sum * 2,
      engineProbesMs = Seq.fill(nw + 1)(1234.567), engineRefMs = 300.0)
  }
  private lazy val fullLine = Bench.line(fullResults, "/root/testdata/sf0.1", fullProbes, 20)

  test("render is valid JSON with the driver's expected fields") {
    val line = Bench.line(samples(Seq("q_a" -> 1.23456789, "q_b" -> 0.000001)),
      "/data/sf0.1", probes(1.5), 0)
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/data/sf0.1")
    assert(math.abs(node.get("value").asDouble() - 1.235) < 1e-9)
    assert(node.get("queries").get("q_a").asDouble() == 1.235)
    assert(node.get("value_raw").asDouble() == 1.5)
    assert(node.get("errors_n").asInt() == 0)
    assert(!line.contains("\n"))
  }

  test("a full-inventory line keeps the headline total in its tail") {
    val node = mapper.readTree(fullLine)
    assert(!fullLine.contains("\n"))
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    // the total covers ALL queries, not just the shown ones
    assert(math.abs(node.get("value").asDouble() - fullResults.map(_._2.wall).sum) < 0.5)
    assert(node.get("queries_total_n").asInt() == fullResults.size)
    // head truncation is the observed failure mode; the summary fields
    // must sit in the LAST 200 chars so a tail capture always has them
    val tail = fullLine.takeRight(200)
    assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"),
      s"summary fields not in tail: ...${fullLine.takeRight(120)}")
  }

  test("compact trailer line fits the driver's 2000-char tail window") {
    // The compact trailer is Bench.line, the one stdout line. A calm
    // sweep at full inventory: no degraded window, no rerun, no error.
    val line = Bench.line(fullResults, "/root/testdata/sf0.1", probes(1.0), 0)
    assert(line.length < 1200, s"line is ${line.length} chars")
    assert(!line.contains("\n"))
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(math.abs(node.get("value").asDouble() - fullResults.map(_._2.wall).sum) < 0.5)
  }

  test("compact trailer with full probe evidence still fits the tail window") {
    assert(fullLine.length < 1200, s"line is ${fullLine.length} chars")
    val node = mapper.readTree(fullLine)
    assert(node.get("value") != null)
    assert(node.get("errors_n").asInt() == 20)
    assert(node.get("rerun_n").asInt() == 150)
    assert(node.get("contended").asBoolean()) // degraded windows ⇒ contended
    assert(node.get("value_raw").asDouble() > node.get("value").asDouble())
  }

  test("compact trailer keeps the slowest queries") {
    // the 20 slowest, by name, at full inventory
    val shown = mapper.readTree(fullLine).get("queries")
    assert(shown.size() == 20)
    fullNames.takeRight(20).foreach(n => assert(shown.has(n), s"$n missing"))
    // and on a small sweep: the 5 fastest of 25 drop out of the line
    val small = samples((0 until 25).map(i => f"q_$i%02d" -> (i + 1).toDouble))
    val node = mapper.readTree(Bench.line(small, "/d", probes(1.0), 0))
    (5 until 25).foreach(i => assert(node.get("queries").has(f"q_$i%02d")))
    (0 until 5).foreach(i => assert(!node.get("queries").has(f"q_$i%02d")))
    assert(math.abs(node.get("value").asDouble() - 325.0) < 1e-9)
  }

  test("minimal last line: tiny, valid, and carries the driver's fields") {
    // Bench.line is the last (and only) line the bench prints: it must
    // parse even if the driver's parser reads only the final stdout line.
    val raw = fullResults.map(_._2.wall).sum * 2
    val line = Bench.line(fullResults, "/root/testdata/sf0.1", probes(raw), 0)
    assert(line.length < 1200, s"line is ${line.length} chars")
    assert(!line.contains("\n"))
    val node = mapper.readTree(line)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(node.get("queries_total_n").asInt() == fullResults.size)
    assert(node.get("queries").size() == 20)
    assert(math.abs(node.get("value_raw").asDouble() - raw) < 0.5)
    assert(node.get("errors_n").asInt() == 0)
    assert(math.abs(node.get("value").asDouble() - fullResults.map(_._2.wall).sum) < 0.5)
  }

  test("compact trailer elides the per-window probe arrays") {
    val node = mapper.readTree(fullLine)
    for (f <- Seq("probes_ms", "engine_probes_ms", "degraded_windows", "rerun",
                  "outlier_rerun", "errors"))
      assert(node.get(f) == null, s"$f on the line")
    // the scalar count stays on the line; the arrays ride the record
    assert(node.get("rerun_n").asInt() == 150)
    val rec = mapper.readTree(record(fullResults, fullProbes))
    assert(rec.get("probes_ms").size() == fullProbes.probesMs.size)
    assert(rec.get("engine_probes_ms").size() == fullProbes.engineProbesMs.size)
    assert(rec.get("degraded_windows").size() == fullProbes.degraded.size)
    assert(rec.get("probe_ref_ms") != null)
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
    val node = mapper.readTree(record(Seq("q_a" -> Bench.Sample(1.9, 1.8, 0.0)), p))
    assert(node.get("regressions_n").asInt() == 1)
    assert(node.get("regressions").get(0).asText() == "q_a")
  }

  test("detailed render carries {wall, cpu, gc} per query plus the summary tail") {
    val rec = record(
      Seq("q_a" -> Bench.Sample(2.0, 1.5, 0.25), "q_b" -> Bench.Sample(1.0, 0.5, 0.0)),
      probes(3.0))
    val node = mapper.readTree(rec)
    assert(node.get("queries").get("q_a").get("wall").asDouble() == 2.0)
    assert(node.get("queries").get("q_a").get("cpu").asDouble() == 1.5)
    assert(node.get("queries").get("q_a").get("gc").asDouble() == 0.25)
    assert(node.get("value").asDouble() == 3.0)
    assert(node.get("cpu_total").asDouble() == 2.0)
    // same tail property as the stdout line: summary fields last
    val tail = rec.takeRight(200)
    assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"))
    assert(!rec.contains("\n"))
    // at full inventory the record holds every query, and the stdout
    // line's headline is the record's
    val all = SparkEntry.queries.keys.toSeq.sorted.map(_ -> Bench.Sample(123.456789, 1.0, 0.0))
    val full = record(all, probes(1.0))
    assert(mapper.readTree(full).get("queries").size() == all.size)
    assert(full.takeRight(200).contains("\"metric\":\"total\""))
    assert(mapper.readTree(full).get("value").asDouble() ==
      mapper.readTree(Bench.line(all, "/d", probes(1.0), 0)).get("value").asDouble())
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
    val det = record(good ++ bad, probes(17.1), env)
    val dn = mapper.readTree(det)
    assert(dn.get("contended").asBoolean())
    assert(dn.get("load_start").asDouble() == 3.5)
    assert(dn.get("load_end").asDouble() == 40.25)
    assert(dn.get("nproc").asInt() == 32)
    assert(dn.get("contended_queries").size() == 3)
    // summary fields still close the record (tail-capture property)
    val tail = det.takeRight(200)
    assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"))
    // the stdout line carries the same label
    assert(mapper.readTree(Bench.line(good ++ bad, "/d", probes(17.1), 0))
      .get("contended").asBoolean())
    assert(!mapper.readTree(Bench.line(good, "/d", probes(2.1), 0))
      .get("contended").asBoolean())
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

  test("engine reference: the probe at sorted index min(max(1, n/4), n - 1)") {
    assert(Bench.engineReference(Seq.empty) == 0.0)
    assert(Bench.engineReference(Seq(300.0)) == 300.0)
    // up to 7 probes: the second-smallest
    assert(Bench.engineReference(Seq(310.0, 169.0, 300.0)) == 300.0)
    assert(Bench.engineReference(Seq(5.0, 1.0, 7.0, 2.0, 6.0, 3.0, 4.0)) == 2.0)
    // an sf0.01 sweep's 17 engine probes (16 windows): 15 in a
    // 199.7–273.5 ms band, the last two fast (157.8 and 139.0 ms); the
    // second-smallest (157.8, cutoff 252.5) flagged 10 of 16 windows
    val band = Seq(231.4, 199.7, 244.0, 258.9, 210.3, 273.5, 226.1, 238.8,
      205.2, 262.7, 219.6, 249.3, 201.8, 267.0, 214.5)
    val found = band ++ Seq(157.8, 139.0)
    val ref = Bench.engineReference(found)
    assert(ref == 205.2) // sorted index 4: the third-smallest of the band
    val calmCpu = Seq.fill(found.size)(450.0)
    assert(Bench.degradedWindows(calmCpu, 450.0,
      engineProbes = found, engineRefMs = ref).isEmpty)
    // a probe at 2× the band's top still flags both windows it borders
    val spiked = found.updated(7, 2 * 273.5)
    assert(Bench.degradedWindows(calmCpu, 450.0,
      engineProbes = spiked, engineRefMs = Bench.engineReference(spiked)) == Seq(6, 7))
  }

  test("probe/self-correction fields ride all three renderers") {
    // The full, compact and detailed renderers are now the record and
    // the stdout line; every probe field rides one or both.
    val pi = Bench.ProbeInfo(windowSize = 25,
      probesMs = Seq(450.0, 1200.0), refMs = 450.0, degraded = Seq(1),
      rerun = Seq("q_x", "q_y"), rerunProbeMs = 455.0, valueRaw = 30.0)
    val results = Seq("q_x" -> Bench.Sample(2.0, 1.8, 0.1), "q_y" -> Bench.Sample(3.0, 2.7, 0.1))
    val env = Bench.Env(1.0, 1.5, 32, 450.0, 452.0)
    val det = mapper.readTree(record(results, pi, env, rawWalls = Map("q_x" -> 9.5)))
    assert(det.get("probes_ms").size() == 2)
    assert(det.get("degraded_windows").get(0).asInt() == 1)
    assert(det.get("rerun").size() == 2 && det.get("rerun_n").asInt() == 2)
    assert(det.get("value_raw").asDouble() == 30.0)
    assert(det.get("value_corrected").asDouble() == 5.0)
    assert(det.get("value").asDouble() == 5.0) // gate input = corrected
    assert(det.get("queries").get("q_x").get("wall_raw").asDouble() == 9.5)
    assert(det.get("queries").get("q_y").get("wall_raw") == null)
    assert(det.get("contended").asBoolean()) // degraded window ⇒ contended
    val line = mapper.readTree(Bench.line(results, "/d", pi, 0))
    assert(line.get("rerun_n").asInt() == 2)
    assert(line.get("value_raw").asDouble() == 30.0)
    assert(line.get("value").asDouble() == 5.0)
    assert(line.get("contended").asBoolean())
    // the per-window arrays and the names are the record's alone
    assert(line.get("probes_ms") == null && line.get("rerun") == null)
    // summary fields still close both (tail-capture property)
    for (json <- Seq(Bench.line(results, "/d", pi, 0), record(results.take(1), pi, env))) {
      val tail = json.takeRight(200)
      assert(tail.contains("\"metric\":\"total\"") && tail.contains("\"value\":"))
      assert(!json.contains("\n"))
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
    // the outlier names ride the record next to `rerun`
    val pi = Bench.ProbeInfo(25, Seq(450.0, 452.0), 450.0, Seq.empty,
      rerun = Seq("q_slow"), rerunProbeMs = 451.0, valueRaw = 12.0,
      outlierRerun = Seq("q_slow"))
    val det = mapper.readTree(record(Seq("q_slow" -> Bench.Sample(2.1, 2.0, 0.0)), pi))
    assert(det.get("outlier_rerun").get(0).asText() == "q_slow")
    assert(det.get("outlier_n").asInt() == 1)
  }

  test("a throwing query is reported in errors/errors_n on every line") {
    // timeOne records the exception class of a query that throws; the
    // line and the record must surface it so a fast-because-broken wall
    // can never read as a win. The record names every one; the stdout
    // line carries the count.
    val errs = Seq("q_bad" -> "SparkException", "q_worse" -> "IOException")
    val results = Seq("q_bad" -> Bench.Sample(0.001, 0.0, 0.0), "q_ok" -> Bench.Sample(1.0, 1.0, 0.0))
    val det = mapper.readTree(record(results, probes(1.0), errors = errs))
    assert(det.get("errors_n").asInt() == 2)
    assert(det.get("errors").get("q_bad").asText() == "SparkException")
    assert(det.get("errors").get("q_worse").asText() == "IOException")
    val line = mapper.readTree(Bench.line(results, "/d", probes(1.0), errs.size))
    assert(line.get("errors_n").asInt() == 2)
    // a clean sweep still carries the count (0), so absence of errors
    // is explicit, not ambiguous
    val clean = mapper.readTree(record(results.drop(1), probes(1.0)))
    assert(clean.get("errors_n").asInt() == 0)
    assert(clean.get("errors").size() == 0)
  }

  test("locale independence: decimal point, not comma") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      for (json <- Seq(Bench.line(samples(Seq("q" -> 1.5)), "/d", probes(2.5), 0),
                       record(samples(Seq("q" -> 1.5)), probes(2.5))))
        assert(json.contains("1.500") && json.contains("2.500") && !json.contains("1,500"))
    } finally java.util.Locale.setDefault(prev)
  }

  test("the history merge leaves an errored query's committed min alone") {
    val hist = Map("q_a" -> 1.0, "q_b" -> 2.0)
    val walls = Seq("q_a" -> 0.5, "q_b" -> 0.001, "q_c" -> 0.7)
    assert(Bench.mergeHistory(hist, walls, Set("q_b")) ==
      Map("q_a" -> 0.5, "q_b" -> 2.0, "q_c" -> 0.7))
  }
}
