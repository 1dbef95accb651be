package graft.operators

import graft.core.Num.{sqlGreatest, sqlLeast}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / time-series operators (SURVEY.md §2.4).
  *
  * All of these partition by the series key (source_id, metric), so thousands
  *-to-millions of independent series parallelize across executors; within a
  * series, Spark sorts once per window spec. None of them need custom state —
  * plain window frames express the reference's trailing-window semantics.
  */
object Windows {

  private def seriesWindow(partitionCols: Seq[String], orderCol: String) =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol).asc)

  /** W1 — rolling z-score, service variant
    * (`backend/app/services/anomaly.py:90-114`): trailing window of the
    * previous `window` values ONLY (no leakage); requires all `window` priors
    * present; population stddev; sigma==0 => null z.
    */
  def zScoreStrict(df: DataFrame, window: Int, partitionCols: Seq[String],
                   orderCol: String = "metric_date", valueCol: String = "value"): DataFrame = {
    val w = seriesWindow(partitionCols, orderCol).rowsBetween(-window, -1)
    val v = col(valueCol)
    val mu = avg(v).over(w)
    val sd = stddev_pop(v).over(w)
    val cnt = count(v).over(w)
    df.withColumn("z",
      when(cnt === window && sd > 0 && v.isNotNull, (v - mu) / sd))
  }

  /** W2 — rolling z-score, API variant (the mounted endpoint,
    * `backend/app/routers/metrics.py:214-256`): partial windows allowed
    * (>=2 priors), SAMPLE stddev, flat-window rule sigma==0 =>
    * outlier iff v != mu with sentinel z=1e9 (else z=0), |z| clamped to 1e9.
    */
  def zScorePartial(df: DataFrame, window: Int, zThresh: Double, partitionCols: Seq[String],
                    orderCol: String = "metric_date", valueCol: String = "value"): DataFrame = {
    val w = seriesWindow(partitionCols, orderCol).rowsBetween(-window, -1)
    val v = col(valueCol)
    // materialize the three window aggregates ONCE — inlining them into the
    // z/outlier expressions would plan (and execute) each duplicated window
    // expression separately, a measured ~7x slowdown at sf0.1
    val staged = df
      .withColumn("__mu", avg(v).over(w))
      .withColumn("__sd", stddev_samp(v).over(w))
      .withColumn("__cnt", count(v).over(w))
    val mu = col("__mu"); val sd = col("__sd"); val cnt = col("__cnt")
    val zRaw = when(sd === 0.0, when(v =!= mu, lit(1e9)).otherwise(lit(0.0)))
      .otherwise(least(greatest((v - mu) / sd, lit(-1e9)), lit(1e9)))
    val outlier = when(sd === 0.0, v =!= mu).otherwise(abs((v - mu) / sd) >= zThresh)
    staged.withColumn("z", when(cnt >= 2 && v.isNotNull, zRaw))
      .withColumn("is_outlier", when(cnt >= 2 && v.isNotNull, outlier).otherwise(lit(false)))
      .drop("__mu", "__sd", "__cnt")
  }

  /** [[zScorePartial]] for one series on the driver: `values` in frame
    * order (the series sorted by `orderCol`), one (z, is_outlier) per row.
    * Each frame holds the `window` rows before the row and is folded the way
    * Spark folds a sliding frame, from scratch per row: `avg` sums from 0.0
    * and divides by the non-null count; `stddev_samp` runs
    * `CentralMomentAgg`'s update (n, mean, m2) over the non-null values, in
    * order. So z equals the window plan's to the bit, sentinel and clamp
    * included.
    */
  def zScoreSeries(values: IndexedSeq[Option[Double]], window: Int,
                   zThresh: Double): IndexedSeq[(Option[Double], Boolean)] =
    values.indices.map { i =>
      val frame = values.slice(math.max(0, i - window), i).flatten
      values(i) match {
        case Some(v) if frame.length >= 2 =>
          val mu = frame.foldLeft(0.0)(_ + _) / frame.length
          var n = 0.0; var mean = 0.0; var m2 = 0.0
          frame.foreach { x =>
            val n1 = n + 1.0
            val delta = x - mean
            val deltaN = delta / n1
            mean += deltaN
            m2 += delta * (delta - deltaN)
            n = n1
          }
          val sd = math.sqrt(m2 / (n - 1.0))
          // SQL equality: NaN equals NaN
          val differs = !(v == mu || (v.isNaN && mu.isNaN))
          if (sd == 0.0) (Some(if (differs) 1e9 else 0.0), differs)
          else {
            val q = (v - mu) / sd
            // SQL ordering: NaN is above every number
            (Some(sqlLeast(sqlGreatest(q, -1e9), 1e9)), q.isNaN || math.abs(q) >= zThresh)
          }
        case _ => (None, false)
      }
    }

  /** W3 — IsolationForest feature builder
    * (`backend/app/services/anomaly_iforest.py:13-23`): over the date-sorted
    * series, rolling(7, min_periods=1) mean, rolling std with ddof=0
    * (fillna 0), and first difference (fillna 0).
    */
  def iforestFeatures(df: DataFrame, partitionCols: Seq[String],
                      orderCol: String = "metric_date", valueCol: String = "value"): DataFrame = {
    val base = seriesWindow(partitionCols, orderCol)
    val w7 = base.rowsBetween(-6, 0)
    val v = col(valueCol)
    df.withColumn("roll_mean", avg(v).over(w7))
      .withColumn("roll_std", coalesce(stddev_pop(v).over(w7), lit(0.0)))
      .withColumn("diff1", coalesce(v - lag(v, 1).over(base), lit(0.0)))
  }

  /** W4 — daily gap-fill (`backend/app/services/forecast.py:36`,
    * `s.asfreq("D").fillna(0.0)`): per-series calendar spine from min to max
    * date, missing days as `fillValue`.
    *
    * The spine is built from a per-series `sequence()` + `explode` — no
    * driver-side date loop, and the join back to the data is on
    * (series key, date), the same partitioning the aggregation already
    * produced.
    */
  def gapFillDaily(df: DataFrame, partitionCols: Seq[String],
                   dateCol: String = "metric_date", valueCol: String = "value",
                   fillValue: Double = 0.0): DataFrame = {
    val keys = partitionCols.map(col)
    val bounds = df.groupBy(keys: _*)
      .agg(min(col(dateCol)).as("__d0"), max(col(dateCol)).as("__d1"))
    val spine = bounds.select(keys :+
      explode(sequence(col("__d0"), col("__d1"), expr("interval 1 day"))).as(dateCol): _*)
    spine.join(df, partitionCols :+ dateCol, "left")
      .withColumn(valueCol, coalesce(col(valueCol), lit(fillValue)))
  }

  /** W5 — lag-1 persistence prediction (`forecast.py:258-270`). */
  def lagPersistence(df: DataFrame, partitionCols: Seq[String],
                     orderCol: String = "metric_date", valueCol: String = "value"): DataFrame =
    df.withColumn("pred", lag(col(valueCol), 1).over(seriesWindow(partitionCols, orderCol)))

  /** W6 — rolling-origin fold split (`forecast.py:199-208`): fold t's test
    * block is the (t+1)-th `horizon`-sized block from the end of the series.
    * Adds `rn` (1-based chronological index), `n` (series length) and
    * `fold_idx` (test-block membership, null if not in any of `folds` blocks).
    */
  def foldSplit(df: DataFrame, folds: Int, horizon: Int, partitionCols: Seq[String],
                orderCol: String = "metric_date"): DataFrame = {
    val w = seriesWindow(partitionCols, orderCol)
    val wAll = Window.partitionBy(partitionCols.map(col): _*)
    val out = df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
    // rn in (n - (t+1)h, n - t*h]  =>  t = floor((n - rn) / h) when within range
    val t = floor((col("n") - col("rn")) / horizon)
    out.withColumn("fold_idx",
      when(t < folds && col("rn") > col("n") - lit(folds * horizon), t.cast("int")))
  }
}
