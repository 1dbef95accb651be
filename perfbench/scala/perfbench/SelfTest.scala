package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Self-test of the benchmark's own machinery (no Spark session):
  *
  *  - an injected throwing operation, and one whose output check fails,
  *    land in the failed count and in no timing sample;
  *  - the tail helper picks the highest percentile that has at least ten
  *    samples beyond it;
  *  - the job-coverage union used for the driver gap is right;
  *  - the result line is one JSON object with exactly the four result keys.
  *
  * Prints a sample result line last, which run.py parses again with the
  * same parser it applies to real runs. Exits 1 on the first failure.
  */
object SelfTest {
  private def expect(what: String)(ok: Boolean): Unit =
    if (ok) println(s"selftest ok: $what")
    else { println(s"selftest FAILED: $what"); sys.exit(1) }

  def run(): Unit = {
    val rec = new Recorder
    (1 to 30).foreach(i => rec.run("op")(i)(_ => true))
    rec.run("op") { Thread.sleep(300); throw new RuntimeException("injected") }(_ => true)
    rec.run("op") { Thread.sleep(300); 0 }(_ => false)
    val t = rec.times("op")
    expect("throwing and wrong-output operations are counted as failed")(
      rec.attempted == 32 && rec.failed == 2)
    expect("failed operations contribute no timing sample")(
      t.length == 30 && t.forall(_ < 250.0) && Stats.percentile(t, 99) < 250.0)

    val xs = (1 to 10000).map(_.toDouble)
    def tailOf(n: Int) = Stats.tail(xs.take(n))
    expect("tail: 19 samples have no percentile with ten beyond")(tailOf(19).isEmpty)
    expect("tail: 20 samples -> p50")(tailOf(20).contains((50.0, 10.0)))
    expect("tail: 99 samples -> p50")(tailOf(99).map(_._1).contains(50.0))
    expect("tail: 100 samples -> p90 = 90th value")(tailOf(100).contains((90.0, 90.0)))
    expect("tail: 1000 samples -> p99")(tailOf(1000).contains((99.0, 990.0)))
    expect("tail: 10000 samples -> p99.9")(tailOf(10000).contains((99.9, 9990.0)))

    expect("job coverage merges overlaps and clips to the span")(
      Tracer.covered(Seq((0.0, 10.0), (5.0, 20.0), (30.0, 40.0), (50.0, 70.0)), 2.0, 60.0) ==
        18.0 + 10.0 + 10.0)

    val line = Main.resultLine(correct = false, rec.attempted, rec.failed,
      Seq(("op_p50_ms", Stats.median(t), "ms"), ("throughput_per_s", 1234.5678, "1/s")))
    val node = new ObjectMapper().readTree(line)
    val keys = Set.newBuilder[String]
    node.fieldNames().forEachRemaining(k => keys += k)
    expect("result line parses with exactly the four result keys")(
      keys.result() == Set("correct", "attempted", "failed", "metrics") &&
        node.get("attempted").asLong == 32 && node.get("failed").asLong == 2 &&
        node.get("metrics").get("op_p50_ms").get("unit").asText == "ms")
    println(line)
  }
}
