package graft.ms.linalg

import breeze.linalg.DenseMatrix
import dev.ludovic.netlib.blas.BLAS

/** Non-negative PARAFAC (CANDECOMP) via multiplicative-update ALS.
  *
  * Re-derivation of the algorithm the reference runs (a modified
  * tensorly-0.4.3 non_negative_parafac, decompose_parafac.py:314-355):
  *   - factors initialised from NumPy RandomState(seed).rand (row-major)
  *   - per iteration, for each mode m:
  *       V    = ⊙_{e≠m} (FₑᵀFₑ)                (element-wise product, F×F)
  *       num  = clip(unfold(X, m) · KR(F, skip m), ε)
  *       den  = clip(Fₘ · V, ε)
  *       Fₘ  ⊙= num ⊘ den                      with ε = 1e-11
  *   - rec_error = ‖X − X̂‖₂ / ‖X‖₂ after each iteration; stop when the
  *     error delta drops below `tol` (checked from iteration 2 on) or at
  *     n_iter_max; returns (factors, last error, iterations run)
  *
  * Tensor layout: row-major (C-order) flat array with dims (S, T, M),
  * matching the unfold/Khatri-Rao row ordering the update rule assumes.
  * All math in Double (the reference runs float32 on GPU; agreement is at
  * tolerance, matching the reference's own cross-machine expectations,
  * decompose_parafac.py:561-563).
  *
  * Workspace: each decomposition allocates its buffers once (the
  * Khatri-Rao product, numerator, denominator, V and one Gram matrix per
  * factor) and every iteration writes into them through
  * `dev.ludovic.netlib.blas.BLAS.dgemm`, with the arguments Breeze passes
  * for the same products. Each factor's Gram matrix FₑᵀFₑ is recomputed
  * once, right after that factor changes, and feeds both V and the error.
  *
  * Bit-identity contract: every product is the dgemm call Breeze makes
  * for it and every element-wise step keeps Breeze's operation order, so
  * factors, error and iteration counts are bit-identical to the same
  * algorithm written over Breeze temporaries (pinned by the bit-exact
  * goldens in NNParafacSpec). A change that reorders the math must come
  * as an opt-in mode judged by planted-factor recovery, never by
  * loosening those goldens. The bits depend on the netlib BLAS backend
  * selected at run time (pure Java unless native BLAS or
  * jdk.incubator.vector is present).
  *
  * Scale: one decomposition is a single-node kernel by design — the
  * parallelism axis is (slice × F) fan-out across Spark tasks (the
  * reference fanned the same unit out across GPU processes,
  * decompose_workstation.sh:9-46).
  */
object NNParafac {

  final case class Result(
      factors: Array[DenseMatrix[Double]],
      recError: Double,
      iterations: Int)

  val Epsilon = 1e-11

  private val blas = BLAS.getInstance()

  /** Khatri-Rao (column-wise Kronecker) of A (I×F) and B (J×F), written
    * column-major into `out` as an (I·J)×F matrix:
    * row i*J+j = A(i,:) ⊙ B(j,:). */
  private[ms] def khatriRao(
      a: DenseMatrix[Double], b: DenseMatrix[Double], out: Array[Double]): Unit = {
    val (ni, nj, f) = (a.rows, b.rows, a.cols)
    require(b.cols == f && out.length >= ni * nj * f)
    val (ad, bd) = (a.data, b.data)
    var c = 0
    while (c < f) {
      var i = 0
      while (i < ni) {
        val aic = ad(c * ni + i)
        val base = (c * ni + i) * nj
        var j = 0
        while (j < nj) { out(base + j) = aic * bd(c * nj + j); j += 1 }
        i += 1
      }
      c += 1
    }
  }

  /** Mode-m unfolding of a row-major (S,T,M) tensor, matching
    * reshape(moveaxis(X, m, 0), (dims(m), -1)) in C order. */
  def unfold(x: Array[Double], s: Int, t: Int, m: Int, mode: Int): DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](Array(s, t, m)(mode), Array(t * m, s * m, s * t)(mode))
    val d = out.data
    var is = 0
    while (is < s) {
      var it = 0
      while (it < t) {
        var im = 0
        val base = (is * t + it) * m
        while (im < m) {
          // column-major: (row, col) lives at col * rows + row
          val at = mode match {
            case 0 => (it * m + im) * s + is
            case 1 => (is * m + im) * t + it
            case 2 => (is * t + it) * m + im
          }
          d(at) = x(base + im)
          im += 1
        }
        it += 1
      }
      is += 1
    }
    out
  }

  private def frobenius(mtx: DenseMatrix[Double]): Double = {
    val d = mtx.data
    var acc = 0.0
    var i = 0
    while (i < d.length) { acc += d(i) * d(i); i += 1 }
    math.sqrt(acc)
  }

  /** The buffers of one decomposition, allocated once and reused by every
    * iteration: the Khatri-Rao product (sized for the largest mode), the
    * MTTKRP numerator and the denominator (sized for the largest factor),
    * V, and the Gram matrix FₑᵀFₑ of each factor. */
  private final class Workspace(dims: Array[Int], rank: Int) {
    private val maxDim = dims.max
    val kr = new Array[Double](dims.product / dims.min * rank)
    val num = new Array[Double](maxDim * rank)
    val den = new Array[Double](maxDim * rank)
    val v = new Array[Double](rank * rank)
    val grams: Array[Array[Double]] = Array.fill(3)(new Array[Double](rank * rank))
  }

  /** gram = FᵀF — the dgemm call Breeze makes for `f.t * f`. */
  private def gram(f: DenseMatrix[Double], gram: Array[Double]): Unit =
    blas.dgemm("T", "N", f.cols, f.cols, f.rows,
      1.0, f.data, 0, f.rows, f.data, 0, f.rows, 0.0, gram, 0, f.cols)

  /** out = A·B for column-major A (rows×k) and B (k×cols) — the dgemm call
    * Breeze makes for a DenseMatrix product. */
  private def multiply(
      a: Array[Double], rows: Int, k: Int, b: Array[Double], cols: Int,
      out: Array[Double]): Unit =
    blas.dgemm("N", "N", rows, cols, k, 1.0, a, 0, rows, b, 0, k, 0.0, out, 0, rows)

  /** out = p ⊙ q over the first n entries. */
  private def hadamard(p: Array[Double], q: Array[Double], n: Int, out: Array[Double]): Unit = {
    var i = 0
    while (i < n) { out(i) = p(i) * q(i); i += 1 }
  }

  /** Fₘ ⊙= clip(num, ε) ⊘ clip(den, ε); num and den keep their unclipped
    * values. */
  private def update(f: DenseMatrix[Double], num: Array[Double], den: Array[Double]): Unit = {
    val d = f.data
    var i = 0
    while (i < d.length) {
      val n = if (num(i) < Epsilon) Epsilon else num(i)
      val q = if (den(i) < Epsilon) Epsilon else den(i)
      d(i) = d(i) * n / q
      i += 1
    }
  }

  /** One multiplicative update of factor `mode`, then its Gram matrix. */
  private def updateMode(
      unfolded: DenseMatrix[Double], factors: Array[DenseMatrix[Double]],
      mode: Int, ws: Workspace): Unit = {
    val rank = factors(mode).cols
    // the other modes in ascending order (matches the unfold layout)
    val (lo, hi) = mode match {
      case 0 => (1, 2)
      case 1 => (0, 2)
      case 2 => (0, 1)
    }
    // V = ⊙ FₑᵀFₑ over the other modes
    hadamard(ws.grams(lo), ws.grams(hi), rank * rank, ws.v)
    khatriRao(factors(lo), factors(hi), ws.kr)
    val rows = unfolded.rows
    multiply(unfolded.data, rows, unfolded.cols, ws.kr, rank, ws.num)
    multiply(factors(mode).data, rows, rank, ws.v, rank, ws.den)
    update(factors(mode), ws.num, ws.den)
    gram(factors(mode), ws.grams(mode))
  }

  /** ‖X − X̂‖/‖X‖ without materializing X̂ (the same quantity the
    * reference computes explicitly):
    *   ‖X̂‖²   = Σ (AᵀA ∘ BᵀB ∘ CᵀC)
    *   ⟨X,X̂⟩ = Σ (U2·KR(A,B) ∘ C)   — the unclipped mode-2 numerator
    *            doesn't involve C, so it is exact for the post-update C;
    *            this removes the dominant S×(T·M)×F gemm + subtraction
    *            per iteration. */
  private def recError(normX: Double, c: DenseMatrix[Double], ws: Workspace): Double = {
    val Array(ata, btb, ctc) = ws.grams
    var normApproxSq = 0.0
    var i = 0
    while (i < ata.length) { normApproxSq += ata(i) * btb(i) * ctc(i); i += 1 }
    val cd = c.data
    var inner = 0.0
    i = 0
    while (i < cd.length) { inner += ws.num(i) * cd(i); i += 1 }
    val errSq = normX * normX - 2.0 * inner + normApproxSq
    math.sqrt(math.max(errSq, 0.0)) / normX
  }

  /** Decompose a (S,T,M) row-major tensor at the given rank. */
  def decompose(
      x: Array[Double], s: Int, t: Int, m: Int,
      rank: Int,
      nIterMax: Int = 5000,
      tol: Double = 1e-7,
      seed: Long = 123L): Result = {

    val dims = Array(s, t, m)
    // Reference init order: one rand(dim, rank) per mode, row-major fill
    // (tensorly initialize_factors 'random' with non_negative=True).
    val rng = new NumpyRandom(seed)
    val factors = dims.map { dim =>
      val flat = rng.rand(dim, rank)
      // row-major flat -> Breeze column-major matrix
      val mm = DenseMatrix.zeros[Double](dim, rank)
      var i = 0
      while (i < dim) {
        var c = 0
        while (c < rank) { mm(i, c) = flat(i * rank + c); c += 1 }
        i += 1
      }
      mm
    }

    val unfolds = Array(unfold(x, s, t, m, 0), unfold(x, s, t, m, 1), unfold(x, s, t, m, 2))
    val normX = frobenius(unfolds(0))
    val ws = new Workspace(dims, rank)
    var mode = 0
    while (mode < 3) { gram(factors(mode), ws.grams(mode)); mode += 1 }

    var prevErr = Double.NaN
    var err = Double.NaN
    var iteration = 0
    var converged = false

    while (iteration < nIterMax && !converged) {
      mode = 0
      while (mode < 3) { updateMode(unfolds(mode), factors, mode, ws); mode += 1 }
      // ws.num still holds the unclipped mode-2 numerator
      err = recError(normX, factors(2), ws)

      if (iteration > 1 && math.abs(prevErr - err) < tol) converged = true
      prevErr = err
      iteration += 1
    }

    Result(factors, err, iteration)
  }

  /** R² = 1 − recError², as logged by the reference (decompose_parafac.py:107). */
  def rsq(recError: Double): Double = 1.0 - recError * recError

  /** RMS-scale each m/z fiber (over samples × time); returns weights
    * (decompose_parafac.py:202-226). Mutates `x` in place. */
  def preprocess(x: Array[Double], s: Int, t: Int, m: Int): Array[Double] = {
    val weights = new Array[Double](m)
    var im = 0
    while (im < m) {
      var acc = 0.0
      var i = im
      while (i < x.length) { acc += x(i) * x(i); i += m }
      val w = math.sqrt(acc / (s.toLong * t))
      weights(im) = w
      if (w != 0.0) {
        i = im
        while (i < x.length) { x(i) /= w; i += m }
      }
      im += 1
    }
    weights
  }
}
