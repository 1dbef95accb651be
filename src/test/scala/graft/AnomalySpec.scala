package graft

import graft.anomaly.{AnomalyService, IsolationForest}
import graft.operators.Windows
import org.apache.spark.sql.functions._

/** Spike-detection golden case (`backend/tests/test_anomaly_api.py:47-100`,
  * FIXTURES.md §4): series {10,11,9,10,10,100,10}, window=3, z=3.0 must flag
  * 2025-09-06 — and only it.
  */
class AnomalySpec extends SparkSpec {
  import spark.implicits._

  private def spikeSeries = Seq(
    ("2025-09-01", 10.0), ("2025-09-02", 11.0), ("2025-09-03", 9.0),
    ("2025-09-04", 10.0), ("2025-09-05", 10.0), ("2025-09-06", 100.0),
    ("2025-09-07", 10.0))
    .map { case (d, v) => (401L, "events_total", java.sql.Date.valueOf(d), v) }
    .toDF("source_id", "metric", "metric_date", "value")

  test("W2 partial z-score flags exactly the 2025-09-06 spike at window=3, z=3") {
    val out = Windows.zScorePartial(spikeSeries, window = 3, zThresh = 3.0,
      Seq("source_id", "metric")).collect()
    val outliers = out.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[java.sql.Date]("metric_date").toString)
    assert(outliers.toSeq == Seq("2025-09-06"))
  }

  test("W2 flat prior window: sigma=0 => outlier iff v != mu with sentinel z=1e9") {
    val flat = Seq(("2025-01-01", 5.0), ("2025-01-02", 5.0), ("2025-01-03", 5.0), ("2025-01-04", 9.0))
      .map { case (d, v) => (1L, "m", java.sql.Date.valueOf(d), v) }
      .toDF("source_id", "metric", "metric_date", "value")
    val out = Windows.zScorePartial(flat, 7, 3.0, Seq("source_id", "metric"))
      .orderBy("metric_date").collect()
    assert(!out(2).getAs[Boolean]("is_outlier") && out(2).getAs[Double]("z") == 0.0)
    assert(out(3).getAs[Boolean]("is_outlier") && out(3).getAs[Double]("z") == 1e9)
  }

  test("W2 zScoreSeries equals zScorePartial to the bit: nulls, flat windows, short series, clamp") {
    val rnd = new scala.util.Random(20261019L)
    def noisy(n: Int, scale: Double) = Seq.fill(n)(
      if (rnd.nextInt(5) == 0) None else Some(math.rint(rnd.nextGaussian() * scale * 1e3) / 1e3))
    val flat = Seq(Seq(5.0, 5.0, 5.0, 9.0, 5.0, 5.0, 5.0, 5.0, 5.0), Seq(2.5, 2.5, 2.5, 2.5),
      Seq(0.0, 0.0, 0.0, -1.0, 0.0)).map(_.map(Some(_)))
    val short = Seq(Nil, Seq(Some(1.0)), Seq(Some(1.0), Some(2.0)), Seq(None, Some(1.0), Some(3.0)),
      Seq(Some(4.0), None, Some(4.0), Some(8.0)))
    // near-flat priors then a far value: |z| passes 1e9 on either side
    val clamp = Seq(Seq(1.0, 1.0 + 1e-12, 1.0, 1.0 + 1e-12, 5e3), Seq(7.0, 7.0 - 1e-9, 7.0, -4e9),
      Seq(1e15, 1e15 + 0.125, 1e15, 1e15 + 0.125, 1e15 + 1e9)).map(_.map(Some(_)))
    val series = (Seq.fill(40)(noisy(1 + rnd.nextInt(30), 10.0)) ++ Seq.fill(10)(noisy(25, 1e6)) ++
      flat ++ short ++ clamp).toIndexedSeq
    val d0 = java.time.LocalDate.of(2025, 1, 1)
    val df = series.zipWithIndex.flatMap { case (vs, s) =>
      vs.zipWithIndex.map { case (v, i) => (s.toLong, "m", java.sql.Date.valueOf(d0.plusDays(i)), v) }
    }.toDF("source_id", "metric", "metric_date", "value")
    for (window <- Seq(2, 7); zThresh <- Seq(3.0, 1.5)) {
      val byId = Windows.zScorePartial(df, window, zThresh, Seq("source_id", "metric")).collect()
        .groupBy(_.getAs[Long]("source_id"))
      series.zipWithIndex.foreach { case (vs, s) =>
        val want = byId.getOrElse(s.toLong, Array.empty).sortBy(_.getAs[java.sql.Date]("metric_date").getTime)
          .map(r => (Option(r.getAs[Any]("z")).map(_.asInstanceOf[Double]), r.getAs[Boolean]("is_outlier"))).toSeq
        val got = Windows.zScoreSeries(vs.toIndexedSeq, window, zThresh)
        assert(got == want, s"series $s (window $window, z $zThresh): ${vs.mkString(",")}")
      }
      val zs = byId.values.flatten.map(_.getAs[Any]("z")).toSet
      if (window == 2) assert(zs(1e9) && zs(-1e9), "the clamp cases must reach ±1e9")
    }
  }

  test("W1 strict z-score needs a full finite window and uses pstdev") {
    val out = Windows.zScoreStrict(spikeSeries, window = 3, Seq("source_id", "metric"))
      .orderBy("metric_date").collect()
    assert(out.take(3).forall(r => r.isNullAt(r.fieldIndex("z")))) // no full prior window yet
    val zSpike = out(5).getAs[Double]("z")
    // priors {9,10,10}: mu=29/3, pstdev=sqrt(2/9)
    val mu = 29.0 / 3.0; val sd = math.sqrt(2.0 / 9.0)
    assert(math.abs(zSpike - (100.0 - mu) / sd) < 1e-9)
  }

  test("isolation forest flags the spike, is deterministic, honors contamination") {
    val rng = new scala.util.Random(7)
    val x = Array.tabulate(100) { i =>
      if (i == 42) Array(100.0, 100.0) else Array(rng.nextDouble(), rng.nextDouble())
    }
    val s1 = IsolationForest.scoreMatrix(x, contamination = 0.05)
    val s2 = IsolationForest.scoreMatrix(x, contamination = 0.05)
    assert(s1.map(_._1).toSeq == s2.map(_._1).toSeq) // deterministic
    assert(s1(42)._2, "spike must be flagged")
    assert(s1.count(_._2) == 5) // 5% of 100
    assert(s1(42)._1 == s1.map(_._1).min) // spike is least normal
  }

  test("iforest service scores per series via flatMapGroups") {
    val md = spikeSeries.select(col("source_id"), col("metric"), col("metric_date"), col("value"))
    val scored = AnomalyService.iforestScores(md).collect()
    assert(scored.length == 7)
    val spike = scored.find(_.metric_date.toString == "2025-09-06").get
    assert(spike.score == scored.map(_.score).min, "spike least normal")
  }

  test("fewer than 5 points => all inliers (small-sample bail)") {
    val s = IsolationForest.scoreMatrix(Array(Array(1.0), Array(2.0), Array(99.0)))
    assert(s.forall(!_._2))
  }

  test("router variant: clamp, NaN mean-fill, <5-finite bail mirror the mounted API") {
    import AnomalyService.{routerScoreSeries, RouterScore}
    val vals = Array.tabulate(40)(i => if (i == 20) 500.0 else 10.0 + (i % 3))
    // contamination outside the router's Query bounds behaves as the clamp
    assert(routerScoreSeries(vals, 0.9).toSeq == routerScoreSeries(vals, 0.5).toSeq)
    assert(routerScoreSeries(vals, 0.0).toSeq == routerScoreSeries(vals, 0.001).toSeq)
    // default run: spike flagged with the minimal score, flag count = round(0.05 * n)
    val dflt = routerScoreSeries(vals)
    assert(dflt(20).isOutlier && dflt(20).score.get == dflt.flatMap(_.score).min)
    assert(dflt.count(_.isOutlier) == math.round(0.05 * vals.length).toInt)
    // NaN fills with the NaN-ignoring mean: scores match the explicit fill
    val withNan = vals.clone(); withNan(5) = Double.NaN
    val m = withNan.filter(v => !v.isNaN)
    val filled = withNan.map(v => if (v.isNaN) m.sum / m.length else v)
    routerScoreSeries(withNan).zip(routerScoreSeries(filled)).foreach { case (a, b) =>
      assert(a.score == b.score && a.isOutlier == b.isOutlier)
    }
    assert(routerScoreSeries(withNan)(5).value.isEmpty, "missing value reported as None")
    // < 5 finite points bails: every point inlier, score None, value kept
    val bail = routerScoreSeries(Array(1.0, Double.NaN, 2.0, 3.0, Double.NaN, 4.0))
    assert(bail.forall(p => !p.isOutlier && p.score.isEmpty))
    assert(bail(0) == RouterScore(Some(1.0), isOutlier = false, None))
  }

  test("router variant rolling-z proxy: warm-up, sd=0 branch, and z-spike flags") {
    import AnomalyService.routerScoreSeries
    val flat = routerScoreSeries(Array.fill(8)(100.0) :+ 150.0, method = "rolling_z")
    assert(flat.take(7).forall(p => p.score.isEmpty && !p.isOutlier), "7-point warm-up")
    assert(!flat(7).isOutlier && flat(7).score.contains(0.0), "sd=0, v == mu => inlier z=0")
    assert(flat(8).isOutlier && flat(8).score.contains(0.0), "sd=0, v != mu => outlier z=0")
    val spiky = routerScoreSeries(
      Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 50.0), method = "rolling_z")
    // priors 1..7: mu=4, pstdev=2 => z=(50-4)/2=23
    assert(spiky(7).isOutlier && spiky(7).score.contains(23.0))
    // history accumulates only non-missing values
    val gappy = routerScoreSeries(
      Array(1.0, 2.0, Double.NaN, 3.0, 4.0, 5.0, 6.0, 7.0, 50.0), method = "rolling_z")
    assert(gappy(2).value.isEmpty && gappy(2).score.isEmpty)
    assert(gappy(8).isOutlier && gappy(8).score.contains(23.0),
      "NaN must not enter the window history")
  }

  test("router Dataset wrapper scores per series with nullable value/score") {
    val md = spikeSeries.select(col("source_id"), col("metric"), col("metric_date"), col("value"))
      .union(Seq((402L, "events_total", java.sql.Date.valueOf("2025-09-01"), 1.0),
        (402L, "events_total", java.sql.Date.valueOf("2025-09-02"), 2.0))
        .toDF("source_id", "metric", "metric_date", "value"))
    val out = AnomalyService.iforestRouterScores(md).collect()
    assert(out.length == 9)
    val s401 = out.filter(_.source_id == 401L).sortBy(_.metric_date.getTime)
    val spike = s401.find(_.metric_date.toString == "2025-09-06").get
    assert(spike.score.get == s401.flatMap(_.score).min, "spike least normal")
    // n=7 at contamination 0.05 flags round(0.35) = 0 points — raising
    // contamination flags the spike
    val flagged = AnomalyService.iforestRouterScores(
      spikeSeries.select(col("source_id"), col("metric"), col("metric_date"), col("value")),
      contamination = 0.15).collect().filter(_.is_outlier)
    assert(flagged.map(_.metric_date.toString).toSeq == Seq("2025-09-06"))
    val s402 = out.filter(_.source_id == 402L)
    assert(s402.forall(p => !p.is_outlier && p.score.isEmpty), "2-point series bails")
  }

  test("routerScoreSeriesMulti is element-wise equal to per-level routerScoreSeries") {
    val rng = new scala.util.Random(11)
    val vals = Array.tabulate(40)(i => if (i == 17) 900.0 else rng.nextDouble() * 10)
    vals(5) = Double.NaN // exercise the mean-fill path too
    val levels = Seq(0.05, 0.9, 0.5, 0.0, 0.001, 0.25)
    val multi = AnomalyService.routerScoreSeriesMulti(vals, levels)
    levels.zip(multi).foreach { case (c, got) =>
      val want = AnomalyService.routerScoreSeries(vals, c)
      assert(got.sameElements(want), s"contamination $c diverged from single-level path")
    }
    // bail path: multi must bail identically for every level
    val short = Array(1.0, 2.0, 3.0, Double.NaN, Double.NaN)
    val multiShort = AnomalyService.routerScoreSeriesMulti(short, levels)
    levels.zip(multiShort).foreach { case (c, got) =>
      assert(got.sameElements(AnomalyService.routerScoreSeries(short, c)))
    }
  }
}
