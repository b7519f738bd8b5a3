package graft.ml

/** Deterministic micro neural-net runtime for the per-channel forecaster
  * (reference: data_ingestion/utils/forecaster.py:35 `LSTMForecaster`,
  * :66 `SimpleForecaster`, torch training loops at :201-316).
  *
  * Everything here is pure, driver-free Scala so a model can be trained
  * INSIDE a Spark task (the per-channel series is bounded — months of
  * history — so training is per-group local work, exactly like the
  * reference's per-channel torch fit, but distributed across channels by
  * `flatMapGroups` instead of looped on one process). No BLAS, no native
  * deps: hidden sizes are ≤64 and sequences ≤6, so plain double loops are
  * microseconds per step.
  *
  * Determinism is load-bearing: seeded SplitMix64 for init, per-epoch
  * shuffles, dropout masks and MC-dropout simulation — two runs of the
  * same channel produce bit-identical forecasts, which is what makes a
  * spec (and an incremental re-run diff) possible at all.
  *
  * r12 kernel shape (bit-identical to the r11 code — pinned by the
  * NeuralForecastSpec golden hash and gradient checks): the matrix kernels write into CALLER-OWNED buffers
  * ([[NeuralNet.linearInto]]/[[NeuralNet.linearBackInto]]) so a training
  * run allocates its workspaces once per model instead of ~100 KB of
  * fresh arrays per forward/backward sample, and the dot-product rows are
  * 4-way interleaved: each ROW keeps its exact left-to-right accumulation
  * order (same doubles, same adds, same result bits) but four independent
  * accumulator chains run at once, so the FMA-latency-bound serial chain
  * that dominated the per-sample cost overlaps across rows.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** uniform [0, 1) */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * nextDouble()
  /** Box–Muller, no spare caching (stateless pairing keeps replay simple) */
  def gaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-12)
    val u2 = nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
  /** in-place Fisher–Yates */
  def shuffle(a: Array[Int]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = ((nextLong() >>> 1) % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}

/** A weight matrix/vector with its gradient and Adam state. */
final class Param(val rows: Int, val cols: Int) {
  val v = new Array[Double](rows * cols)
  val g = new Array[Double](rows * cols)
  val m = new Array[Double](rows * cols)
  val u = new Array[Double](rows * cols)
  def size: Int = v.length
  def copyValues(): Array[Double] = v.clone()
  def restore(saved: Array[Double]): Unit = System.arraycopy(saved, 0, v, 0, v.length)
}

/** Adam (β1 .9, β2 .999, ε 1e-8) with torch-style global-norm gradient
  * clipping before each step; zeroes gradients after stepping.
  */
final class Adam(params: Array[Param], lr: Double, clipNorm: Double = 1.0) {
  private var t = 0
  def step(): Unit = {
    var norm2 = 0d
    params.foreach { p =>
      var i = 0
      while (i < p.size) { norm2 += p.g(i) * p.g(i); i += 1 }
    }
    val scale = {
      val n = math.sqrt(norm2)
      if (clipNorm > 0 && n > clipNorm) clipNorm / (n + 1e-6) else 1d
    }
    t += 1
    val bc1 = 1 - math.pow(0.9, t)
    val bc2 = 1 - math.pow(0.999, t)
    params.foreach { p =>
      var i = 0
      while (i < p.size) {
        val g = p.g(i) * scale
        p.m(i) = 0.9 * p.m(i) + 0.1 * g
        p.u(i) = 0.999 * p.u(i) + 0.001 * g * g
        p.v(i) -= lr * (p.m(i) / bc1) / (math.sqrt(p.u(i) / bc2) + 1e-8)
        p.g(i) = 0d
        i += 1
      }
    }
  }
}

object NeuralNet {
  /** y = W x + b; returns a fresh output array (W: out×in). */
  def linear(w: Param, b: Param, x: Array[Double]): Array[Double] = {
    val out = new Array[Double](w.rows)
    linearInto(w, b, x, out)
    out
  }

  /** [[linear]] into a caller-owned buffer. Every row's dot product keeps
    * the exact left-to-right accumulation order of the scalar loop (bit
    * identity); rows are computed 4 at a time so their independent
    * accumulator chains overlap instead of serializing on FMA latency.
    */
  def linearInto(w: Param, b: Param, x: Array[Double], out: Array[Double]): Unit = {
    val wv = w.v; val bv = b.v
    val rows = w.rows; val cols = w.cols
    var r = 0
    while (r + 4 <= rows) {
      val o0 = r * cols; val o1 = o0 + cols; val o2 = o1 + cols; val o3 = o2 + cols
      var a0 = bv(r); var a1 = bv(r + 1); var a2 = bv(r + 2); var a3 = bv(r + 3)
      var c = 0
      while (c < cols) {
        val xc = x(c)
        a0 += wv(o0 + c) * xc
        a1 += wv(o1 + c) * xc
        a2 += wv(o2 + c) * xc
        a3 += wv(o3 + c) * xc
        c += 1
      }
      out(r) = a0; out(r + 1) = a1; out(r + 2) = a2; out(r + 3) = a3
      r += 4
    }
    while (r < rows) {
      val o = r * cols
      var acc = bv(r)
      var c = 0
      while (c < cols) { acc += wv(o + c) * x(c); c += 1 }
      out(r) = acc
      r += 1
    }
  }

  /** Backward of [[linear]]: accumulates dW/db, returns fresh dx. */
  def linearBack(w: Param, b: Param, x: Array[Double], dy: Array[Double]): Array[Double] = {
    val dx = new Array[Double](w.cols)
    linearBackInto(w, b, x, dy, dx)
    dx
  }

  /** [[linearBack]] into a caller-owned dx buffer (zeroed here first).
    * dx(c)'s accumulation order over rows is preserved exactly: the
    * 2-row step computes `(dx(c) + w_r·d_r) + w_{r+1}·d_{r+1}` — the same
    * adds in the same order as two sequential row updates.
    */
  def linearBackInto(w: Param, b: Param, x: Array[Double], dy: Array[Double],
                     dx: Array[Double]): Unit = {
    val wv = w.v; val wg = w.g; val bg = b.g
    val rows = w.rows; val cols = w.cols
    java.util.Arrays.fill(dx, 0, cols, 0d)
    var r = 0
    while (r + 2 <= rows) {
      val d0 = dy(r); val d1 = dy(r + 1)
      bg(r) += d0; bg(r + 1) += d1
      val o0 = r * cols; val o1 = o0 + cols
      var c = 0
      while (c < cols) {
        val xc = x(c)
        wg(o0 + c) += d0 * xc
        wg(o1 + c) += d1 * xc
        dx(c) = dx(c) + wv(o0 + c) * d0 + wv(o1 + c) * d1
        c += 1
      }
      r += 2
    }
    while (r < rows) {
      val d = dy(r)
      bg(r) += d
      val o = r * cols
      var c = 0
      while (c < cols) {
        wg(o + c) += d * x(c)
        dx(c) += wv(o + c) * d
        c += 1
      }
      r += 1
    }
  }

  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** torch nn.Linear/nn.LSTM default init: U(-1/√fanIn, 1/√fanIn). */
  def initUniform(p: Param, fanIn: Int, rng: Rng): Unit = {
    val k = 1.0 / math.sqrt(fanIn.toDouble)
    var i = 0
    while (i < p.size) { p.v(i) = rng.uniform(-k, k); i += 1 }
  }

  /** Inverted dropout mask (scale 1/(1-p) kept in the mask). */
  def dropoutMask(n: Int, p: Double, rng: Rng): Array[Double] = {
    val m = new Array[Double](n)
    dropoutMaskInto(m, n, p, rng)
    m
  }

  /** [[dropoutMask]] into a caller-owned buffer — same RNG draw sequence. */
  def dropoutMaskInto(m: Array[Double], n: Int, p: Double, rng: Rng): Unit = {
    val keep = 1.0 / (1.0 - p)
    var i = 0
    while (i < n) { m(i) = if (rng.nextDouble() < p) 0d else keep; i += 1 }
  }
}

/** One LSTM layer (gate order i,f,g,o like torch), scalar-input capable.
  * Caches the forward pass for truncated-by-construction BPTT (sequences
  * are the reference's fixed window of 6). All per-timestep workspaces
  * (gate pre-activations, h/c states, gate values, BPTT scratch) are
  * owned by the layer and reused across forward/backward calls — a
  * training run allocates them once, not per sample.
  */
final class LstmLayer(val inSize: Int, val hidden: Int, rng: Rng) {
  import NeuralNet._
  val wih = new Param(4 * hidden, inSize)
  val whh = new Param(4 * hidden, hidden)
  val bih = new Param(4 * hidden, 1)
  val bhh = new Param(4 * hidden, 1)
  Seq(wih, whh, bih, bhh).foreach(initUniform(_, hidden, rng))
  def params: Array[Param] = Array(wih, whh, bih, bhh)

  // forward caches (one slot per timestep), grown on demand and reused
  private var cap = -1
  private var xs: Array[Array[Double]] = _
  private var hs: Array[Array[Double]] = _ // h_0 .. h_T (index t+1 = output at t)
  private var cs: Array[Array[Double]] = _
  private var gi, gf, gg, go: Array[Array[Double]] = _
  private var tcs: Array[Array[Double]] = _ // tanh(c_t), cached for backward
  private var outs: Array[Array[Double]] = _ // view hs(1..T), returned by forward
  private val zx = new Array[Double](4 * hidden)
  private val zh = new Array[Double](4 * hidden)
  // backward scratch
  private var dxSeq: Array[Array[Double]] = _
  private val dz = new Array[Double](4 * hidden)
  private val dhNext = new Array[Double](hidden)
  private val dcNext = new Array[Double](hidden)

  private def ensure(t0: Int): Unit = {
    if (t0 > cap) {
      hs = Array.fill(t0 + 1)(new Array[Double](hidden))
      cs = Array.fill(t0 + 1)(new Array[Double](hidden))
      gi = Array.fill(t0)(new Array[Double](hidden))
      gf = Array.fill(t0)(new Array[Double](hidden))
      gg = Array.fill(t0)(new Array[Double](hidden))
      go = Array.fill(t0)(new Array[Double](hidden))
      tcs = Array.fill(t0)(new Array[Double](hidden))
      dxSeq = Array.fill(t0)(new Array[Double](inSize))
      cap = t0
    }
    outs = if (outs != null && outs.length == t0) outs else new Array[Array[Double]](t0)
    var t = 0
    while (t < t0) { outs(t) = hs(t + 1); t += 1 }
  }

  /** Runs the whole sequence; returns outputs h_1..h_T (layer-owned
    * buffers, valid until the next forward).
    */
  def forward(seq: Array[Array[Double]]): Array[Array[Double]] = {
    val t0 = seq.length
    ensure(t0)
    xs = seq
    java.util.Arrays.fill(hs(0), 0d)
    java.util.Arrays.fill(cs(0), 0d)
    var t = 0
    while (t < t0) {
      linearInto(wih, bih, seq(t), zx)
      linearInto(whh, bhh, hs(t), zh)
      val i0 = gi(t); val f0 = gf(t); val g0 = gg(t); val o0 = go(t)
      val tcT = tcs(t)
      val cPrev = cs(t); val cCur = cs(t + 1); val hCur = hs(t + 1)
      var j = 0
      while (j < hidden) {
        i0(j) = sigmoid(zx(j) + zh(j))
        f0(j) = sigmoid(zx(hidden + j) + zh(hidden + j))
        g0(j) = math.tanh(zx(2 * hidden + j) + zh(2 * hidden + j))
        o0(j) = sigmoid(zx(3 * hidden + j) + zh(3 * hidden + j))
        cCur(j) = f0(j) * cPrev(j) + i0(j) * g0(j)
        // tanh(c_t) cached so BPTT reuses the identical value instead of
        // re-evaluating the transcendental (same input ⇒ same bits)
        tcT(j) = math.tanh(cCur(j))
        hCur(j) = o0(j) * tcT(j)
        j += 1
      }
      t += 1
    }
    outs
  }

  /** BPTT given per-timestep output grads; returns per-timestep dx
    * (layer-owned buffers, valid until the next backward).
    */
  def backward(dhSeq: Array[Array[Double]]): Array[Array[Double]] = {
    val t0 = xs.length
    java.util.Arrays.fill(dhNext, 0d)
    java.util.Arrays.fill(dcNext, 0d)
    var t = t0 - 1
    while (t >= 0) {
      val dhT = dhSeq(t)
      val giT = gi(t); val gfT = gf(t); val ggT = gg(t); val goT = go(t)
      val tcT = tcs(t)
      val cPrev = cs(t)
      var j = 0
      while (j < hidden) {
        val dh = dhT(j) + dhNext(j)
        val tc = tcT(j)
        val dOut = dh * tc
        val dc = dcNext(j) + dh * goT(j) * (1 - tc * tc)
        val dIn = dc * ggT(j)
        val dG = dc * giT(j)
        val dF = dc * cPrev(j)
        // dcNext(j) is consumed above before being overwritten for t-1
        dcNext(j) = dc * gfT(j)
        dz(j) = dIn * giT(j) * (1 - giT(j))
        dz(hidden + j) = dF * gfT(j) * (1 - gfT(j))
        dz(2 * hidden + j) = dG * (1 - ggT(j) * ggT(j))
        dz(3 * hidden + j) = dOut * goT(j) * (1 - goT(j))
        j += 1
      }
      linearBackInto(wih, bih, xs(t), dz, dxSeq(t))
      // dhNext is fully read in the gate loop above before this overwrite
      linearBackInto(whh, bhh, hs(t), dz, dhNext)
      t -= 1
    }
    dxSeq
  }
}
