package graft.ms.linalg

import breeze.linalg.{DenseMatrix, sum}

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

  /** Khatri-Rao (column-wise Kronecker) of A (I×F) and B (J×F): (I·J)×F,
    * row i*J+j = A(i,:) ⊙ B(j,:). */
  def khatriRao(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
    val f = a.cols
    require(b.cols == f)
    val out = DenseMatrix.zeros[Double](a.rows * b.rows, f)
    var i = 0
    while (i < a.rows) {
      var j = 0
      while (j < b.rows) {
        val r = i * b.rows + j
        var c = 0
        while (c < f) { out(r, c) = a(i, c) * b(j, c); c += 1 }
        j += 1
      }
      i += 1
    }
    out
  }

  /** Mode-m unfolding of a row-major (S,T,M) tensor, matching
    * reshape(moveaxis(X, m, 0), (dims(m), -1)) in C order. */
  def unfold(x: Array[Double], s: Int, t: Int, m: Int, mode: Int): DenseMatrix[Double] = {
    val out = mode match {
      case 0 => DenseMatrix.zeros[Double](s, t * m)
      case 1 => DenseMatrix.zeros[Double](t, s * m)
      case 2 => DenseMatrix.zeros[Double](m, s * t)
    }
    var is = 0
    while (is < s) {
      var it = 0
      while (it < t) {
        var im = 0
        val base = (is * t + it) * m
        while (im < m) {
          val v = x(base + im)
          mode match {
            case 0 => out(is, it * m + im) = v
            case 1 => out(it, is * m + im) = v
            case 2 => out(im, is * t + it) = v
          }
          im += 1
        }
        it += 1
      }
      is += 1
    }
    out
  }

  private def clipInPlace(mtx: DenseMatrix[Double], lo: Double): Unit = {
    val d = mtx.data
    var i = 0
    while (i < d.length) { if (d(i) < lo) d(i) = lo; i += 1 }
  }

  private def frobenius(mtx: DenseMatrix[Double]): Double = {
    val d = mtx.data
    var acc = 0.0
    var i = 0
    while (i < d.length) { acc += d(i) * d(i); i += 1 }
    math.sqrt(acc)
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

    var prevErr = Double.NaN
    var recError = Double.NaN
    var iteration = 0
    var converged = false

    while (iteration < nIterMax && !converged) {
      // unclipped mode-2 numerator U2·KR(A,B) — reused for the error
      var num2: DenseMatrix[Double] = null
      var mode = 0
      while (mode < 3) {
        val others = Seq(0, 1, 2).filterNot(_ == mode)
        // V = ⊙ FₑᵀFₑ over other modes
        val v = others
          .map(e => (factors(e).t * factors(e)): DenseMatrix[Double])
          .reduce((p, q) => p *:* q)
        // KR over other modes in ascending order (matches unfold layout)
        val kr = khatriRao(factors(others.head), factors(others.last))
        val numerator = unfolds(mode) * kr
        if (mode == 2) num2 = numerator.copy
        clipInPlace(numerator, Epsilon)
        val denominator = factors(mode) * v
        clipInPlace(denominator, Epsilon)
        factors(mode) = factors(mode) *:* numerator /:/ denominator
        mode += 1
      }

      // rec error ‖X − X̂‖/‖X‖ without materializing X̂ (same quantity the
      // reference computes explicitly):
      //   ‖X̂‖²   = Σ (AᵀA ∘ BᵀB ∘ CᵀC)
      //   ⟨X,X̂⟩ = Σ (U2·KR(A,B) ∘ C)   — num2 doesn't involve C, so it
      //            is exact for the post-update C; this removes the
      //            dominant S×(T·M)×F gemm + subtraction per iteration
      val ata = factors(0).t * factors(0)
      val btb = factors(1).t * factors(1)
      val ctc = factors(2).t * factors(2)
      val normApproxSq = sum(ata *:* btb *:* ctc)
      val inner = sum(num2 *:* factors(2))
      val errSq = normX * normX - 2.0 * inner + normApproxSq
      recError = math.sqrt(math.max(errSq, 0.0)) / normX

      if (iteration > 1 && math.abs(prevErr - recError) < tol) converged = true
      prevErr = recError
      iteration += 1
    }

    Result(factors, recError, iteration)
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
