package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml._

/** The adaptive forecaster is spec-gated (model training has no SQL
  * oracle), so the spec carries the correctness weight:
  * finite-difference gradient checks prove the hand-rolled BPTT/backprop
  * against the forward pass, a convergence test proves training actually
  * learns, and the pipeline tests pin determinism, model selection and
  * the gap-fill arithmetic.
  */
class NeuralForecastSpec extends AnyFunSuite {

  private def gradCheck(model: SeriesModel, seq: Array[Double], checks: Int): Unit = {
    val y0 = model.forward(seq, train = false)
    model.backward(1.0)
    val rng = new Rng(42)
    val eps = 1e-6
    model.params.foreach { p =>
      (0 until math.min(checks, p.size)).foreach { _ =>
        val i = ((rng.nextLong() >>> 1) % p.size).toInt
        val analytic = p.g(i)
        val orig = p.v(i)
        p.v(i) = orig + eps
        val yp = model.forward(seq, train = false)
        p.v(i) = orig - eps
        val ym = model.forward(seq, train = false)
        p.v(i) = orig
        val numeric = (yp - ym) / (2 * eps)
        assert(math.abs(analytic - numeric) <= 1e-4 * math.max(1.0, math.abs(numeric)),
          s"grad mismatch at index $i: analytic=$analytic numeric=$numeric (y0=$y0)")
      }
      java.util.Arrays.fill(p.g, 0d)
    }
  }

  test("LSTM backward matches finite differences") {
    val m = new LstmForecaster(hidden = 6, dropout = 0.2, new Rng(7))
    gradCheck(m, Array(0.2, 0.8, 0.4, 0.6, 0.3, 0.7), checks = 8)
  }

  test("simple MLP backward matches finite differences") {
    val m = new SimpleForecasterNet(inSize = 3, hidden = 16, new Rng(7))
    gradCheck(m, Array(0.2, 0.8, 0.4), checks = 8)
  }

  test("LSTM training learns a sine series better than predicting the mean") {
    val data = Array.tabulate(48)(i => 0.5 + 0.4 * math.sin(i * math.Pi / 6))
    val model = NeuralForecaster.trainLstm(data, new Rng(11), hidden = 16, epochs = 100)
    val idx = (0 until data.length - 6).toArray
    def mse(pred: Int => Double) =
      idx.map { i => val e = pred(i) - data(i + 6); e * e }.sum / idx.length
    val modelMse = mse(i => model.forward(data.slice(i, i + 6), train = false))
    val mean = data.sum / data.length
    val meanMse = mse(_ => mean)
    assert(modelMse < meanMse / 2,
      s"LSTM did not learn: model MSE $modelMse vs mean-predictor MSE $meanMse")
  }

  test("gapFill interpolates interior months linearly") {
    val (filled, last) = NeuralForecaster.gapFill(Seq((10, 0.0), (14, 8.0), (12, 4.0)))
    assert(last === 14)
    assert(filled.toSeq === Seq(0.0, 2.0, 4.0, 6.0, 8.0))
  }

  test("percentile matches numpy's linear interpolation") {
    val xs = Array(4.0, 1.0, 3.0, 2.0)
    assert(NeuralForecaster.percentile(xs, 50) === 2.5)
    assert(NeuralForecaster.percentile(xs, 25) === 1.75)
    assert(NeuralForecaster.percentile(xs, 100) === 4.0)
  }

  test("model selection follows the 12/4/1 month thresholds (post gap-fill)") {
    def run(months: Int) = NeuralForecaster.forecastChannel(
      "ch", (0 until months).map(i => (i, 10.0 + i)), hidden = 8, epochs = 5)
    assert(run(2).head.model_type === "statistical")
    assert(run(6).head.model_type === "simple")
    assert(run(14).head.model_type === "lstm")
    // a 2-point series whose gap-filled span is 14 months trains the LSTM
    val gappy = NeuralForecaster.forecastChannel("ch", Seq((0, 1.0), (13, 14.0)),
      hidden = 8, epochs = 5)
    assert(gappy.head.model_type === "lstm")
  }

  test("forecasts are deterministic and shaped: 3 horizons, ordered bands") {
    val pts = (0 until 18).map(i => (i, 50.0 + 10 * math.sin(i / 3.0)))
    val a = NeuralForecaster.forecastChannel("deterministic", pts, hidden = 8, epochs = 10)
    val b = NeuralForecaster.forecastChannel("deterministic", pts, hidden = 8, epochs = 10)
    assert(a === b)
    assert(a.map(_.horizon) === Seq(1, 2, 3))
    a.foreach { r =>
      assert(r.lower <= r.p25 && r.p25 <= r.p75 && r.p75 <= r.upper)
      assert(r.forecasted_hours >= 0)
    }
    // consecutive first-of-month dates after the last observed month
    // last observed month index 17 = year 1, July (m/12, m%12+1)
    assert(a.map(_.forecast_month.toString) === Seq("0001-07-01", "0001-08-01", "0001-09-01"))

    // Golden FNV-1a fold over every field of every row, one fixed series
    // per model type, at the bench entry's hidden size: a kernel rewrite
    // must reproduce these bits exactly. Months fold as epoch days, so the
    // value does not depend on the JVM's default time zone.
    var hash = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { hash ^= x; hash *= 0x100000001b3L }
    def mixDouble(x: Double): Unit = mix(java.lang.Double.doubleToLongBits(x))
    Seq(
      "lstm" -> (0 until 20).map(i => (i, 40.0 + 15 * math.sin(i / 2.0) + i)),
      "simple" -> (0 until 8).map(i => (i, 10.0 + 3 * i - (i % 3))),
      "statistical" -> Seq((0, 5.0), (1, 7.5), (2, 6.0))
    ).foreach { case (kind, pts) =>
      val rows = NeuralForecaster.forecastChannel(kind, pts, hidden = 32, epochs = 5)
      assert(rows.map(_.model_type) === Seq(kind, kind, kind))
      rows.foreach { r =>
        r.channel.foreach(c => mix(c.toLong))
        mix(r.forecast_month.toLocalDate.toEpochDay); mix(r.horizon.toLong)
        Seq(r.forecasted_hours, r.lower, r.p25, r.p75, r.upper).foreach(mixDouble)
        r.model_type.foreach(c => mix(c.toLong))
      }
    }
    assert(f"$hash%016x" === "198dd5d4fc4265ba")
  }

  test("Spark operator trains per-channel inside tasks: 3 rows per channel, deterministic") {
    val s = SparkSpec.session
    import org.apache.spark.sql.functions.col
    val orders = graft.Tables.orders(s, "/root/testdata/sf0.001")
    val cust = graft.Tables.customer(s, "/root/testdata/sf0.001").filter(col("c_custkey") <= 4)
    def run() = graft.operators.Forecast
      .forecastHoursAdaptive(orders, cust, hidden = 8, epochs = 10)
      .collect().sortBy(r => (r.getString(0), r.getInt(2)))
    val a = run()
    assert(a.nonEmpty && a.length % 3 === 0)
    // TPC-H orders span years of months per customer → the LSTM path
    assert(a.forall(_.getString(8) === "lstm"))
    assert(a.map(_.toString) === run().map(_.toString))
  }

  test("constant series is jittered, scaled, and survives end-to-end") {
    val rows = NeuralForecaster.forecastChannel("flat", (0 until 14).map(i => (i, 25.0)),
      hidden = 8, epochs = 5)
    assert(rows.size === 3)
    // jitter is ±1% of nothing: forecasts stay in the immediate
    // neighborhood of the constant
    rows.foreach(r => assert(math.abs(r.forecasted_hours - 25.0) < 1.0, r.toString))
  }
}
