package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench capture's self-adjudication logic (round-12 verdict #1):
  * a per-query sandbox stall must flag itself for requeue instead of
  * shipping as a plausible plan cost. Pure-function tests — the timings
  * below are the actual figures from the r12 incident and healthy runs. */
class BenchHarnessSpec extends AnyFunSuite {

  test("r12 q24 incident flags: warm 15.49 s on cold 5.16 s is a stall") {
    assert(Bench.stallInverted(cold = 5.16, warm = 15.49))
  }

  test("healthy warm-below-cold never flags (the normal shape)") {
    assert(!Bench.stallInverted(cold = 5.16, warm = 1.14))
    assert(!Bench.stallInverted(cold = 0.8, warm = 0.3))
  }

  test("sub-second queries need the 3x ratio AND +5s absolute guard") {
    // 3x on a 0.2 s query is ordinary sandbox variance — must not flag
    assert(!Bench.stallInverted(cold = 0.2, warm = 0.7))
    // but a genuine multi-second stall on a tiny query does flag
    assert(Bench.stallInverted(cold = 0.2, warm = 5.5))
  }

  test("heavy queries: 3x alone doesn't flag without the +5s margin") {
    // warm slightly over cold on a 30 s query is variance, not a stall
    assert(!Bench.stallInverted(cold = 30.0, warm = 34.0))
    // 3x a heavy query is way past cold+5s — flags
    assert(Bench.stallInverted(cold = 30.0, warm = 95.0))
  }

  test("errored executions (-1 sentinel) never flag") {
    assert(!Bench.stallInverted(cold = -1.0, warm = 15.0))
    assert(!Bench.stallInverted(cold = 5.0, warm = -1.0))
  }

  test("synthetic stall end-to-end: flag -> requeue -> min reported") {
    // the r12 q24 shape: cold 5.16, both warms stalled at ~15.5; the
    // suite-end requeue (after the stall) lands at the true 1.4 s
    val samples = Seq(5.16, 15.49, 15.61)
    val warm = samples.drop(1).min
    assert(Bench.stallInverted(5.16, warm)) // flags
    val (w, a, s) = Bench.requeueMerge(warm, 0.2, samples,
      rq = 1.41, rqArt = 0.1, rqErr = None)
    assert(w === 1.41 && a === 0.1 && s === samples :+ 1.41)
    // median over all four samples: lower-middle = the second smallest
    val med = s.sorted.apply((s.length - 1) / 2)
    assert(med === 5.16)
  }

  test("r13 q24 incident: whole-window stall escapes inversion, reference catches it") {
    // the round-13 blind spot: 12.5 s warm / 11.0 s cold — both passes
    // inside the stall, so nothing inverted...
    assert(!Bench.stallInverted(cold = 11.0, warm = 12.5))
    // ...but against the healthy reference (0.93 s) it flags
    assert(Bench.refStalled(ref = 0.93, warm = 12.5))
  }

  test("reference rule: ratio for sub-second refs, +1s margin for tiny ones") {
    // 3.25x a 0.4 s reference is sandbox variance — the +1s margin absorbs it
    assert(!Bench.refStalled(ref = 0.4, warm = 1.3))
    assert(Bench.refStalled(ref = 0.4, warm = 5.5))
    // a 10 s reference: 2.5x dominates the margin
    assert(!Bench.refStalled(ref = 10.0, warm = 16.0))
    assert(Bench.refStalled(ref = 10.0, warm = 31.0))
    // ordinary healthy spread never flags
    assert(!Bench.refStalled(ref = 2.0, warm = 2.9))
  }

  test("r15 q90 incident: the old ref+5s floor shielded sub-5s-ref queries") {
    // BENCH_r15 shipped q90 at 4.75 s warm against a 0.67 s reference
    // with zero flags (old bar: max(3x0.67, 0.67+5) = 5.67). The
    // round-16 bar — max(2.5xref, ref+1) = 1.675 — flags it.
    assert(Bench.refStalled(ref = 0.67, warm = 4.75))
    // and the full r15 suspect set all flag now
    for ((ref, warm) <- Seq((0.99, 5.1), (0.59, 4.3), (0.83, 4.1),
      (0.73, 4.2), (0.22, 1.67), (0.32, 2.38), (0.31, 1.90), (0.30, 1.36)))
      assert(Bench.refStalled(ref, warm), s"ref=$ref warm=$warm must flag")
    // a healthy capture of the same queries stays unflagged
    for ((ref, warm) <- Seq((0.67, 0.64), (0.99, 1.05), (0.59, 0.59),
      (0.83, 1.12), (0.73, 0.79), (4.72, 4.57)))
      assert(!Bench.refStalled(ref, warm), s"ref=$ref warm=$warm must not flag")
  }

  test("reference requeues are capped, worst inflation first") {
    val flagged = Seq(("a", 7.1), ("b", 2.6), ("c", 12.9), ("d", 3.3))
    assert(Bench.selectRequeues(flagged, cap = 2) === Set("c", "a"))
    assert(Bench.selectRequeues(flagged, cap = 10) === Set("a", "b", "c", "d"))
    assert(Bench.selectRequeues(flagged, cap = 0) === Set.empty[String])
    assert(Bench.selectRequeues(Nil, cap = 5) === Set.empty[String])
  }

  test("reference rule: missing reference or errored execution never flags") {
    assert(!Bench.refStalled(ref = 0.0, warm = 50.0))  // query not in file
    assert(!Bench.refStalled(ref = -1.0, warm = 50.0))
    assert(!Bench.refStalled(ref = 1.0, warm = -1.0))  // errored run
  }

  test("reference JSON parses flat name->seconds and shrugs off garbage") {
    val ref = Bench.parseReference(
      """{"q01_agg": 0.45, "q24_term_or": 0.93,
         "q88_range_join": 3.14e0}""")
    assert(ref === Map("q01_agg" -> 0.45, "q24_term_or" -> 0.93,
      "q88_range_join" -> 3.14))
    assert(Bench.parseReference("") === Map.empty)
    assert(Bench.parseReference("not json at all") === Map.empty)
    // a name with no numeric value contributes nothing
    assert(Bench.parseReference("""{"a": "xyz", "b": 1.5}""") === Map("b" -> 1.5))
  }

  test("the committed reference file parses and covers the query surface") {
    // tools/bench_reference.json is the last healthy capture's per-query
    // medians — the whole-window stall detector is inert if it goes
    // missing or garbled, so pin that it loads and covers every query
    val ref = Bench.parseReference(java.nio.file.Files.readString(
      java.nio.file.Paths.get("tools/bench_reference.json")))
    assert(ref.size >= 100, s"reference too small: ${ref.size}")
    assert(ref.values.forall(v => v > 0 && v < 120), "implausible reference figure")
    val missing = SparkEntry.queries.keySet -- ref.keySet
    assert(missing.isEmpty, s"queries missing from the reference: $missing")
  }

  test("degraded-segment requeue: every query in a flagged window requeues") {
    // the r14 shape: 117 queries, 12 probe checkpoints, segments 1-3
    // degraded — per-query rules flagged only 5 outliers, but queries
    // inflated 1.5-3x in those windows shipped as-is (round-14 verdict #1)
    val degraded = Set(1, 2, 3)
    val n = 117; val segSize = 10; val nSeg = 12
    val flagged = (0 until n).filter(Bench.inDegradedSegment(_, segSize, nSeg, degraded))
    assert(flagged === (10 until 40)) // exactly the three 10-query windows
    // the final partial segment (queries 110-116) shares the last probe
    assert(Bench.segmentOf(116, segSize, nSeg) === 11)
    assert(Bench.segmentOf(110, segSize, nSeg) === 11)
    assert(Bench.segmentOf(109, segSize, nSeg) === 10)
    // a healthy run requeues nothing through this rule
    assert((0 until n).forall(!Bench.inDegradedSegment(_, segSize, nSeg, Set.empty)))
  }

  test("degraded-segment requeue composes with requeueMerge's min discipline") {
    // a query in a degraded segment measured 2.1x its healthy 1.0 s —
    // under both per-query flag bars, caught only by the segment rule;
    // the suite-end requeue (stall passed) restores the healthy figure
    assert(!Bench.stallInverted(cold = 2.3, warm = 2.1))
    assert(!Bench.refStalled(ref = 1.0, warm = 2.1))
    val (w, _, s) = Bench.requeueMerge(2.1, 0.0, Seq(2.3, 2.1, 2.2),
      rq = 1.02, rqArt = 0.0, rqErr = None)
    assert(w === 1.02 && s.last === 1.02)
    // if the sandbox is STILL degraded at suite end the slower requeue
    // cannot worsen anything
    val (w2, _, _) = Bench.requeueMerge(2.1, 0.0, Seq(2.3, 2.1, 2.2),
      rq = 2.4, rqArt = 0.0, rqErr = None)
    assert(w2 === 2.1)
  }

  test("fitCompact: budget-fitted per-query map, fixed fields always survive") {
    // the r17 driver-contract line (round-16 verdict #1): 131 queries at
    // ~25 bytes each can never fit a 2000-byte tail — the line keeps its
    // slowest-first prefix and flags the truncation
    val entries = (1 to 131).map(i => (f"q$i%03d_some_query_name", 132.0 - i))
    def render(qmap: String, truncated: Boolean): String =
      s"""{"metric":"total","value":1.0,"queries_truncated":$truncated,"queries":$qmap}"""
    val line = Bench.fitCompact(entries, 1850, render)
    assert(line.length <= 1850, s"over budget: ${line.length}")
    assert(line.contains("\"queries_truncated\":true"))
    // slowest-first prefix: the heaviest query is always present
    assert(line.contains("\"q001_some_query_name\":131.000"))
    // when everything fits, nothing is truncated
    val small = Bench.fitCompact(entries.take(3), 1850, render)
    assert(small.contains("\"queries_truncated\":false"))
    assert(small.contains("\"q003_some_query_name\":129.000"))
    // a budget smaller than even the empty-map line still renders (floor)
    val floor = Bench.fitCompact(entries, 10, render)
    assert(floor === render("{}", true))
  }

  test("compactErrors: five 500-character errors keep the compact line in budget") {
    // Spark exception messages run to hundreds of characters, and quotes
    // and newlines double when escaped
    val errs = (1 to 5).map(i => (s"q$i: " + "Job aborted \"stage\"\n" * 40).take(500))
    val errors = Bench.compactErrors(errs)
    val entries = "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(errors).map(_.group(1)).toSeq
    assert(entries.size === 5 && entries.forall(_.length <= 120), errors)
    // the cut never splits an escape sequence
    assert(entries.forall(e => e.reverse.takeWhile(_ == '\\').length % 2 == 0), errors)
    assert(Bench.compactErrors(Seq("short \"one\"")) === "[\"short \\\"one\\\"\"]")
    // the compact line's fixed fields at realistic widths, around the
    // cut errors; the zero-query floor included
    def render(qmap: String, truncated: Boolean): String =
      s"""{"metric":"total","value":77.81234567890123,"unit":"sec","total_cold":123.45678901234567,"median":80.12345678901234,"artifact_sec":1.2345,"canary":0.1234,"canary_ref":0.35,"io_probe":0.1234,"io_ref":0.5,"degraded":true,"n_ref":131,"degraded_segments":[0,1,2,3,4,5,6,7,8,9,10,11,12,13],"segment_size":10,"n_requeued":40,"n_segment_requeued":40,"cpus":32,"n_queries":131,"n_errors":5,"errors":$errors,"sf":"testdata/sf0.1","queries_full":"/tmp/graft_bench_full.json","queries_truncated":$truncated,"queries":$qmap}"""
    val qs = (1 to 131).map(i => (f"q$i%03d_some_query_name", 132.0 - i))
    val line = Bench.fitCompact(qs, 1850, render)
    assert(line.length <= 1850, s"over budget: ${line.length}")
    assert(render("{}", true).length <= 1850)
  }

  test("requeue merge: slower or errored requeues never worsen the figures") {
    val samples = Seq(5.16, 15.49, 15.61)
    // slower requeue (stall not over): original stands
    val (w1, a1, s1) = Bench.requeueMerge(15.49, 0.2, samples, 20.0, 0.3, None)
    assert(w1 === 15.49 && a1 === 0.2 && s1 === samples)
    // errored requeue: original stands
    val (w2, _, s2) = Bench.requeueMerge(15.49, 0.2, samples, -1.0, 0.0, Some("boom"))
    assert(w2 === 15.49 && s2 === samples)
  }
}
