package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import EventSemantics.fl

/** Statistical streaming-hours forecast — reference
  * `data_ingestion/utils/forecaster.py:318` statistical_forecast (the
  * deterministic fallback path of the LSTM forecaster; the NN path is
  * explicitly out of scope, SURVEY.md non-goals).
  *
  * Per channel, over its monthly-hours series: exponentially-weighted mean
  * (weights exp(linspace(-1,0,n)) when n>=3, plain mean otherwise), linear
  * trend (last-first)/n, then a 3-month horizon with ±1.645σ / ±0.674σ
  * bands widened 20% per step. Variance uses the explicit Σx²/Σx formula in
  * both engines (not stddev builtins, whose algorithms differ).
  *
  * Scale: one shuffle to (channel, month), one to (channel); horizons are
  * a 3-row explode of the per-channel aggregate — no window over raw data.
  */
object Forecast {

  def forecastHours(orders: DataFrame, customer: DataFrame, horizons: Int = 3): DataFrame = {
    val monthly = orders.join(
        broadcast(customer.select(col("c_custkey"), col("c_name").as("channel"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("channel"), to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("dur"))
      .select(col("channel"), col("month"), (col("dur").cast("double") / 3600d).as("x"))
    // one select per step: every chained withColumn re-analyzes the plan
    val w = when(col("n") >= 3, exp(lit(-1d) + (col("i") - 1d) / (col("n") - 1d))).otherwise(lit(1d))
    val stats = monthly
      .select(col("channel"), col("month"), col("x"),
        row_number().over(Window.partitionBy("channel").orderBy("month")).cast("double").as("i"),
        count(lit(1)).over(Window.partitionBy("channel")).cast("double").as("n"))
      .groupBy("channel").agg(
        max("n").as("n"),
        (sum(w * col("x")) / sum(w)).as("wm"),
        sum("x").as("sx"),
        sum(col("x") * col("x")).as("sx2"),
        min_by(col("x"), col("month")).as("x_first"),
        max_by(col("x"), col("month")).as("x_last"))
    val sigma = when(col("n") > 1,
      sqrt(greatest(lit(0d), (col("sx2") - col("sx") * col("sx") / col("n")) / col("n"))))
      .otherwise(lit(0.1d))
    val trend = when(col("n") >= 2, (col("x_last") - col("x_first")) / col("n")).otherwise(lit(0d))
    val f = col("wm") + col("trend") * col("h").cast("double")
    val widen = col("sigma") * (lit(1d) + (col("h").cast("double") - 1d) * 0.2d)
    stats
      .select(col("channel"), col("wm"), sigma.as("sigma"), trend.as("trend"),
        explode(sequence(lit(1), lit(horizons))).as("h"))
      .select(
        col("channel"), col("h").cast("int").as("horizon"),
        fl(f, 4).as("forecast"),
        fl(greatest(lit(0d), f - widen * 1.645d), 4).as("lower"),
        fl(greatest(lit(0d), f - widen * 0.674d), 4).as("p25"),
        fl(f + widen * 0.674d, 4).as("p75"),
        fl(f + widen * 1.645d, 4).as("upper"))
  }

  /** #103 adaptive NN forecaster — the reference's FULL pipeline
    * (forecaster.py:84 StreamingHoursForecaster), not just the
    * statistical fallback: per channel, gap-fill + MinMax-scale the
    * monthly series, then ≥12 months → 2-layer LSTM (h=64, dropout 0.2,
    * Adam, early stopping), ≥4 → small MLP, else the statistical path;
    * 3-month recursive forecast with 100-sim MC-dropout bands
    * (p5/p25/p75/p95). Implemented torch-free in [[graft.ml]] so each
    * channel trains INSIDE its Spark task: the reference loops channels
    * on one process (forecaster.py:492), here `flatMapGroups` distributes
    * the same bounded per-channel work across the cluster — 10k channels
    * train 10k models in parallel, with one shuffle of the tiny
    * (channel, month) rollup and zero driver involvement.
    *
    * Seeded per channel (MurmurHash3 of the name) — bit-identical
    * forecasts on every run; spec-gated (training is not
    * SQL-expressible, so no DuckDB oracle; the statistical path's twin
    * [[forecastHours]] stays the oracle-checked query).
    */
  def forecastHoursAdaptive(orders: DataFrame, customer: DataFrame,
                            horizons: Int = 3, sims: Int = 100,
                            hidden: Int = 64, epochs: Int = 100): DataFrame = {
    val monthly = orders.join(
        broadcast(customer.select(col("c_custkey"), col("c_name").as("channel"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("channel"), to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("dur"))
      .select(col("channel"),
        (year(col("month")) * 12 + month(col("month")) - 1).as("m"),
        (col("dur").cast("double") / 3600d).as("x"))
      // a null channel has no series; a null month (null end_time) has no
      // slot on the axis; a null monthly sum (all durations null) is a
      // MISSING month — gap-fill interpolates it like any other hole. The
      // typed (String, Int, Double) boundary below cannot carry nulls.
      .filter(col("channel").isNotNull && col("m").isNotNull && col("x").isNotNull)
    val spark = orders.sparkSession
    import spark.implicits._
    // Training is CPU-bound per KEY, not per byte: the rollup is a few KB
    // per channel, so AQE's byte-based coalescing would collapse the
    // shuffle to one partition and serialize every model fit. An explicit
    // numPartitions repartition (REPARTITION_BY_NUM — exempt from AQE
    // coalescing) spreads channels across all cores. 8× over-decomposition
    // smooths the hash-binomial imbalance (at parallelism-sized
    // partitioning a 64-channel corpus hashes 4-5 channels onto the max
    // task; at 8× the max task carries 1-2 and waves amortize the rest —
    // measured 2.29 → 2.12 s wall at 32 cores; the residual tail is the
    // single heaviest channel's serial fit, which no partitioning can
    // split). At 10k+ channels each task still holds dozens of keys, so
    // the distribution stays even and per-task overhead stays amortized.
    val parts = Sizing.spreadCores(spark) * 8
    monthly.as[(String, Int, Double)]
      .repartition(parts, col("channel"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (ch, rows) =>
          graft.ml.NeuralForecaster
            .forecastChannel(ch, rows.map(r => (r._2, r._3)), horizons, sims, hidden, epochs)
        }
      }
      .toDF()
  }

}
