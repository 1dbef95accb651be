package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins the bench's cross-session prior-guard protocol (parse / flag /
  * self-heal — Bench.scala's readPrior machinery) the way PlanShapeSpec
  * pins plans: the logic otherwise runs only in live bench sessions, where
  * a regression would surface as a silently-clobbered or silently-ignored
  * committed reference rounds later.
  */
class BenchPriorSpec extends AnyFunSuite {

  private val good =
    """{"sf":"/root/testdata/sf0.1","medians":{"q01":0.35,"q94":2.14,"q163":12.80}}"""

  private val withScale10 =
    """{"sf":"/root/testdata/sf0.1","medians":{"q01":0.35,"q109":1.82},""" +
      """"scale10":{"q109":7.26,"q42c":2.10}}"""

  test("sf-tagged prior at the session's sf parses and stays writable") {
    val (m, s10, w) = Bench.parsePriorText(good, "/root/testdata/sf0.1")
    assert(w, "matching sf must keep the prior writable")
    assert(m == Map("q01" -> 0.35, "q94" -> 2.14, "q163" -> 12.80))
    assert(s10.isEmpty, "a legacy prior without a scale10 section parses clean")
  }

  test("scale10 section parses separately — the qNN key spaces overlap") {
    val (m, s10, w) = Bench.parsePriorText(withScale10, "/root/testdata/sf0.1")
    assert(w)
    assert(m == Map("q01" -> 0.35, "q109" -> 1.82),
      "the medians half must not absorb scale10's t10 for the same key")
    assert(s10 == Map("q109" -> 7.26, "q42c" -> 2.10),
      "the scale10 half must not absorb the medians")
  }

  test("prior from a DIFFERENT sf is ignored AND protected from overwrite") {
    val (m, s10, w) = Bench.parsePriorText(withScale10, "/root/testdata/sf0.001")
    assert(m.isEmpty && s10.isEmpty, "cross-sf priors are not comparable")
    assert(!w, "a smoke run at another sf must not clobber the committed reference")
  }

  test("file level: absent -> writable; unreadable -> protected") {
    val dir = Files.createTempDirectory("graft_prior").toString
    val (mAbsent, _, wAbsent) = Bench.readPrior(s"$dir/nope.json", "/x")
    assert(mAbsent.isEmpty && wAbsent, "only a confirmed-absent file is writable")
    // a PRESENT path that cannot be read as a file (a directory here — the
    // stand-in for any IO failure) must stay protected: before the r12 fix
    // this returned writable=true and the next session clobbered the
    // committed reference
    val unreadable = s"$dir/as_dir"
    Files.createDirectory(java.nio.file.Paths.get(unreadable))
    val (mu, _, wu) = Bench.readPrior(unreadable, "/x")
    assert(mu.isEmpty && !wu,
      "present-but-unreadable prior must not be overwritten")
    // disabled entirely:
    val (md, _, wd) = Bench.readPrior("0", "/x")
    assert(md.isEmpty && !wd)
  }

  test("mandatory-retime flag: 2.5x ratio AND the 0.3 s absolute floor") {
    assert(Bench.priorFlag(2.0, 0.5), "4x with 1.5 s delta fires")
    assert(!Bench.priorFlag(0.35, 0.1),
      "3.5x but only 0.25 s over the prior is sub-second jitter, not evidence")
    assert(Bench.priorFlag(0.45, 0.1), "4.5x and 0.35 s over fires")
    assert(!Bench.priorFlag(1.2, 0.5), "2.4x is under the ratio gate")
    assert(!Bench.priorFlag(0.5, 0.5), "equal is quiet")
  }

  test("median second flag: 1.5x prior median catches sustained 1.3-2x bursts") {
    // the r13 blind spot: q179 drifted to 2.05x its prior with min-based
    // flagging silent (the burst covered every pass, min inflated too)
    assert(Bench.priorMedianFlag(8.28, 4.05), "q179's r13 drift must fire")
    assert(!Bench.priorMedianFlag(4.1, 4.05), "flat sessions stay quiet")
    assert(!Bench.priorMedianFlag(0.5, 0.4),
      "1.25x under the ratio gate stays quiet")
    assert(!Bench.priorMedianFlag(0.42, 0.2),
      "2.1x but only 0.22 s over is sub-second jitter, not evidence")
    assert(Bench.priorMedianFlag(1.0, 0.6), "1.67x and 0.4 s over fires")
  }

  test("scale10 flag: t10 above 2x prior t10 (+0.3 s floor) forces the retime") {
    // the r13 defect this closes: q109 t10 26.60 against prior ~7.26 —
    // both back-to-back runs sat inside one sustained burst and min-of-2
    // never saw a clean run
    assert(Bench.scale10Flag(26.60, 7.26), "the r13 q109 row must fire")
    assert(!Bench.scale10Flag(7.5, 7.26), "flat t10 stays quiet")
    assert(!Bench.scale10Flag(0.5, 0.3),
      "1.67x under the ratio gate stays quiet")
    assert(!Bench.scale10Flag(0.52, 0.24),
      "2.2x but only 0.28 s over is sub-second jitter, not evidence")
    assert(Bench.scale10Flag(1.2, 0.5), "2.4x and 0.7 s over fires")
  }

  test("self-heal: retime wins only when valid and lower than the median") {
    assert(Bench.adjudicatedMedian(3.0, Some(0.4)) == 0.4,
      "a phantom re-times near the min and must not poison the next prior")
    assert(Bench.adjudicatedMedian(3.0, Some(3.2)) == 3.0,
      "a real regression re-times near its median; the median stands")
    assert(Bench.adjudicatedMedian(3.0, Some(-1.0)) == 3.0,
      "a failed retime (sentinel) never replaces the median")
    assert(Bench.adjudicatedMedian(3.0, None) == 3.0)
  }

  test("a throwing query lands in failed, not in the totals") {
    val t = new Bench.Timings
    t.time("q01_ok")(Thread.sleep(5))
    t.time("q02_bad") { Thread.sleep(5); throw new IllegalStateException("boom") }
    t.time("q01_ok")(())
    val results = t.results(Seq("q01_ok", "q02_bad"))
    assert(results.map(_._1) == Seq("q01_ok"))
    assert(results.head._2.length == 2, "both successful passes of q01 are samples")
    assert(t.failed.toMap == Map("q02_bad" -> "java.lang.IllegalStateException: boom"))
    val (mn, md, mx) = Bench.totals(results)
    assert(mn == results.head._2.min && md == results.head._2.head && mx == results.head._2.max)
    val line = Bench.driverLine(1, "/s", 2, Seq("queries"), Seq.empty,
      results.map { case (k, ts) => k.takeWhile(_ != '_') -> ts.head }.toMap, "{}", Seq.empty,
      (_, _) => 0.0, 0.0, 0L, mn, md, mx, 0.0, 1.0, 0.0, failed = Seq("q02"))
    assert(line.contains("\"n_failed\":1,\"failed\":[\"q02\"]"))
    assert(!line.contains("\"q02\":"), "a failed query has no timing in the line")
  }

  // ---- r15: the incremental-emission protocol (the r14 driver artifact
  // was rc=124 with nothing parseable — these pin the fix) ----------------

  test("driverLine stays under 1.8 KB even with a 300-query registry") {
    val medians = (1 to 300).map(i => s"q$i" -> (i * 0.037)).toMap
    val scale10 = (1 to 30).map(i => (s"q$i" + "_x", 1.0 + i, 2.0 + i * 3.0))
    val noisy = (1 to 12).map(i => s""""q$i":[0.40,1.23,9.87,0.44]""")
      .mkString("{", ",", "}")
    def expOf(t1: Double, t10: Double) = math.log10(t10 / t1)
    val line = Bench.driverLine(3, "/root/testdata/sf0.1", 300,
      Seq("queries", "ann_index", "v4_cycle", "scale10_subset"),
      Seq("nothing"), medians, noisy, scale10, expOf,
      0.28, 6005, 400.123, 612.456, 1200.789, 2100.0, 1734.5, 1.02)
    assert(line.length < 1800,
      s"driver keeps ~2 KB of stdout; line is ${line.length} B")
    // headline fields present and LAST (the consumer head-truncates)
    assert(line.endsWith("\"value\":612.456}"))
    assert(line.contains("\"total_min\":400.123"))
    assert(line.contains("\"detail\":\"BENCH_SUMMARY.json\""))
    assert(line.contains("\"sections\":[\"queries\",\"ann_index\",\"v4_cycle\",\"scale10_subset\"]"))
    assert(line.contains("\"skipped\":[\"nothing\"]"))
    // top-20 cap: the slowest median (q300) is in, the fastest (q1) is not
    assert(line.contains("\"q300\":11.10"))
    assert(!line.contains("\"q1\":0.04"))
  }

  test("driverLine scale10_top ranks by exponent and keeps [exp,t10] pairs") {
    def expOf(t1: Double, t10: Double) = math.log10(t10 / t1)
    val s10 = Seq(("q7_a", 1.0, 2.0), ("q8_b", 1.0, 30.0), ("q9_c", 1.0, -1.0))
    val line = Bench.driverLine(1, "/s", 2, Seq("queries"), Seq.empty,
      Map("q7" -> 1.0), "{}", s10, expOf, 1.0, 1, 1, 2, 3, 0, 10, 2.3)
    assert(line.contains("\"contention_index\":2.30") &&
      line.contains("\"contended\":true"),
      s"a contended session must be stamped on the line's face: $line")
    assert(line.contains("\"scale10_top\":{\"q8\":[1.48,30.00],\"q7\":[0.30,2.00]}"),
      s"failed-run sentinels (t10 <= 0) must be excluded: $line")
  }

  test("atomicWrite publishes whole files and leaves no tmp residue") {
    val dir = Files.createTempDirectory("graft_atomic").toString
    val p = s"$dir/BENCH_SUMMARY.json"
    Bench.atomicWrite(p, """{"a":1}""")
    Bench.atomicWrite(p, """{"a":2}""")
    val got = new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assert(got == "{\"a\":2}\n", "second emission replaces the first atomically")
    assert(!Files.exists(java.nio.file.Paths.get(p + ".tmp")),
      "the tmp staging file must be renamed away")
  }

  test("tier membership: gates are real registry names; scale10Core covers the r14 ADVICE set") {
    val names = SparkEntry.queries.keySet
    val missing = Bench.gateTier.filterNot(names.contains)
    assert(missing.isEmpty, s"gateTier entries must exist in the registry: $missing")
    val missing10 = Bench.scale10Core.filterNot(names.contains)
    assert(missing10.isEmpty, s"scale10Core entries must exist: $missing10")
    assert(Bench.scale10Core.toSet.subsetOf(Bench.scale10Names.toSet),
      "the subset must be a subset of the full scale10 matrix")
    // the four r14-ADVICE exponents ride in EVERY budgeted session
    Seq("q209_drift_psi", "q210_shard_manifest", "q216_drift_store",
      "q217_incremental_export").foreach(n =>
      assert(Bench.scale10Core.contains(n), s"$n must be in the subset"))
  }

  test("contention index: median ratio vs prior, floor-filtered, insufficient-signal safe") {
    // 5 comparable queries, one genuinely regressed 4x: the MEDIAN ratio
    // stays ~1 — one real regression must not stamp the session contended
    val prior = Map("q01" -> 1.0, "q02" -> 2.0, "q03" -> 4.0, "q04" -> 1.0,
      "q05" -> 1.0, "q06" -> 0.1)
    val clean = Map("q01" -> 1.05, "q02" -> 2.1, "q03" -> 3.9, "q04" -> 4.0,
      "q05" -> 0.95)
    assert(Bench.contentionIndex(clean, prior) < Bench.ContendedAt)
    // a co-tenant burst inflates EVERYTHING ~2x: the index says so
    val burst = clean.map { case (k, v) => k -> v * 2.1 }
    assert(Bench.contentionIndex(burst, prior) > Bench.ContendedAt)
    // sub-floor priors are excluded: q06's 10x "ratio" on a 0.1 s prior is
    // scheduling noise, not contention signal
    val noise = clean + ("q06" -> 1.0)
    assert(Bench.contentionIndex(noise, prior) < Bench.ContendedAt)
    // fewer than 4 comparable queries -> no signal -> 1.0, never a stamp
    assert(Bench.contentionIndex(Map("q01" -> 9.0), prior) == 1.0)
    assert(Bench.contentionIndex(Map.empty, prior) == 1.0)
    // and no prior at all (fresh checkout) -> 1.0
    assert(Bench.contentionIndex(clean, Map.empty) == 1.0)
  }

  test("prior write round-trips through the parser (medians + scale10)") {
    // the live session writes this exact shape; the next session's reader
    // must split it losslessly
    val written =
      """{"sf":"/s","medians":{"q01":0.350,"q109":1.820},"scale10":{"q109":7.260,"q192":4.100}}"""
    val (m, s10, w) = Bench.parsePriorText(written, "/s")
    assert(w)
    assert(m == Map("q01" -> 0.35, "q109" -> 1.82))
    assert(s10 == Map("q109" -> 7.26, "q192" -> 4.10))
  }
}
