package graft.ms

import graft.SparkSuite
import graft.ms.linalg.{GaussianImpute, NNParafac, NumpyRandom}
import graft.ms.ops.Decomposer
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Cross-check of the DISTRIBUTED NN-PARAFAC against an independent
  * sequential implementation, on REAL slice tensors.
  *
  * [[graft.ms.linalg.NNParafac]] is the production kernel: BLAS dgemm
  * into a per-decomposition workspace, cached Gram matrices and a
  * Gram-matrix shortcut for the reconstruction error
  * (‖X̂‖² and ⟨X,X̂⟩ from F×F products, never materializing X̂).
  * [[SeqParafac]] below shares NOTHING with it but the published
  * algorithm contract (multiplicative-update ALS, tensorly-0.4.3
  * semantics per decompose_parafac.py:314-355) and the seeded init
  * convention: plain nested loops over flat arrays, no Breeze, and the
  * error computed the LITERAL way the reference does — materialize the
  * Kruskal reconstruction and take ‖X − X̂‖₂/‖X‖₂ directly. Agreement
  * of (ncomp, Rsq, iterations) between the two is therefore evidence
  * about the production kernel's algebra (unfold layout, Khatri-Rao row
  * order, the error shortcut), not a tautology.
  *
  * Comparison runs at the reference's own cross-machine tolerance:
  * decompose_parafac.py:561-563 asserts its decomposition log to
  * 2 decimals, and :358-372 treats (ncomp, Rsq, iterations) as the
  * comparable-across-implementations oracle. We additionally record
  * that the observed agreement is far tighter (1e-9-scale) since both
  * sides run double precision over the same trajectory.
  */
class ParafacCrossCheckSpec extends AnyFunSuite with Matchers
    with SparkSuite {

  // sf0.01: 100 non-trivial ~3×60×36 slices (sf0.001 yields only one
  // degenerate 1×5×1 tensor — below the trivial-tensor guard)
  private val SfDir = "/root/testdata/sf0.01"

  /** Independent sequential NN-PARAFAC: flat arrays, explicit X̂. */
  private object SeqParafac {
    val Eps = 1e-11

    /** Returns (recError, iterations, factors row-major per mode). */
    def decompose(
        x: Array[Double], s: Int, t: Int, m: Int,
        rank: Int, nIterMax: Int, tol: Double, seed: Long)
        : (Double, Int, Array[Array[Double]]) = {
      val dims = Array(s, t, m)
      val rng = new NumpyRandom(seed)
      // row-major factor matrices: fac(mode)(i * rank + f)
      val fac = dims.map(d => rng.rand(d, rank))

      var normXSq = 0.0
      x.foreach(v => normXSq += v * v)
      val normX = math.sqrt(normXSq)

      // unfold(mode) as a function: U_mode(row, col) without storing —
      // mode 0: (is, it*m+im); mode 1: (it, is*m+im); mode 2: (im, is*t+it)
      def unfolded(mode: Int): (Array[Double], Int, Int) = {
        val (rows, cols) = mode match {
          case 0 => (s, t * m)
          case 1 => (t, s * m)
          case 2 => (m, s * t)
        }
        val u = new Array[Double](rows * cols)
        var is = 0
        while (is < s) {
          var it = 0
          while (it < t) {
            var im = 0
            val base = (is * t + it) * m
            while (im < m) {
              val v = x(base + im)
              mode match {
                case 0 => u(is * cols + it * m + im) = v
                case 1 => u(it * cols + is * m + im) = v
                case 2 => u(im * cols + is * t + it) = v
              }
              im += 1
            }
            it += 1
          }
          is += 1
        }
        (u, rows, cols)
      }
      val unfolds = Array(unfolded(0), unfolded(1), unfolded(2))

      def gram(mode: Int): Array[Double] = {
        val fm = fac(mode); val n = dims(mode)
        val g = new Array[Double](rank * rank)
        var i = 0
        while (i < n) {
          var a = 0
          while (a < rank) {
            val va = fm(i * rank + a)
            var b = 0
            while (b < rank) {
              g(a * rank + b) += va * fm(i * rank + b); b += 1
            }
            a += 1
          }
          i += 1
        }
        g
      }

      var recError = Double.NaN
      var prevErr = Double.NaN
      var iteration = 0
      var converged = false
      while (iteration < nIterMax && !converged) {
        var mode = 0
        while (mode < 3) {
          val o1 = if (mode == 0) 1 else 0
          val o2 = if (mode == 2) 1 else 2
          val (u, rows, _) = unfolds(mode)
          val f1 = fac(o1); val n1 = dims(o1)
          val f2 = fac(o2); val n2 = dims(o2)
          // num[i][f] = Σ_{j=(j1,j2)} U[i][j1*n2+j2] · f1[j1][f] · f2[j2][f]
          val num = new Array[Double](rows * rank)
          var i = 0
          while (i < rows) {
            var j1 = 0
            while (j1 < n1) {
              var j2 = 0
              while (j2 < n2) {
                val uv = u(i * (n1 * n2) + j1 * n2 + j2)
                if (uv != 0.0) {
                  var f = 0
                  while (f < rank) {
                    num(i * rank + f) += uv * f1(j1 * rank + f) * f2(j2 * rank + f)
                    f += 1
                  }
                }
                j2 += 1
              }
              j1 += 1
            }
            i += 1
          }
          // V = gram(o1) ∘ gram(o2); den = F_mode · V
          val g1 = gram(o1); val g2 = gram(o2)
          val v = Array.tabulate(rank * rank)(k => g1(k) * g2(k))
          val fm = fac(mode)
          val denRow = new Array[Double](rank)
          i = 0
          while (i < rows) {
            // denominator from the PRE-update row, for every f, before
            // any element of the row mutates
            var f = 0
            while (f < rank) {
              var den = 0.0
              var g = 0
              while (g < rank) { den += fm(i * rank + g) * v(g * rank + f); g += 1 }
              denRow(f) = if (den < Eps) Eps else den
              f += 1
            }
            f = 0
            while (f < rank) {
              var nm = num(i * rank + f)
              if (nm < Eps) nm = Eps
              fm(i * rank + f) = fm(i * rank + f) * nm / denRow(f)
              f += 1
            }
            i += 1
          }
          mode += 1
        }

        // the LITERAL error: materialize X̂ and diff
        val a = fac(0); val b = fac(1); val c = fac(2)
        var errSq = 0.0
        var is = 0
        while (is < s) {
          var it = 0
          while (it < t) {
            var im = 0
            val base = (is * t + it) * m
            while (im < m) {
              var xh = 0.0
              var f = 0
              while (f < rank) {
                xh += a(is * rank + f) * b(it * rank + f) * c(im * rank + f)
                f += 1
              }
              val d = x(base + im) - xh
              errSq += d * d
              im += 1
            }
            it += 1
          }
          is += 1
        }
        recError = math.sqrt(errSq) / normX
        if (iteration > 1 && math.abs(prevErr - recError) < tol) converged = true
        prevErr = recError
        iteration += 1
      }
      (recError, iteration, fac)
    }
  }

  // the registry's own decomposition parameters (MsPipeline)
  private val (fMin, fMax, maxIter, tol, seed) = (2, 3, 100, 1e-7, 123L)

  private lazy val subset: Seq[SliceTensor] = {
    assume(new java.io.File(s"$SfDir/lineitem.parquet").exists)
    MsPipeline.tensors(spark, SfDir)
      .collect().toSeq
      .filterNot(Decomposer.isTrivial)
      .sortBy(st => (st.swath_key, st.rt_window))
      .take(12) // bounded spec runtime; 12 slices × 2 ranks = 24 models
  }

  private lazy val distributed: Map[(String, Int, Int), ParafacModelRow] = {
    import spark.implicits._
    Decomposer.run(spark, spark.createDataset(subset), fMin, fMax,
        maxIter = maxIter, tol = tol, seed = seed)
      .collect()
      .map(mr => (mr.swath_key, mr.rt_window, mr.ncomp) -> mr).toMap
  }

  test("distributed ALS matches an independent sequential kernel on real slices") {
    subset should not be empty
    var maxRsqDiff = 0.0
    var maxIterDiff = 0
    for (st <- subset; rank <- fMin to fMax) {
      val mr = distributed((st.swath_key, st.rt_window, rank))
      val x = GaussianImpute.imputeTensor(st.data,
        st.n_samples, st.n_cycles, st.n_mz)
      val (seqErr, seqIters, _) = SeqParafac.decompose(x,
        st.n_samples, st.n_cycles, st.n_mz, rank, maxIter, tol, seed)
      val seqRsq = 1.0 - seqErr * seqErr
      withClue(s"slice ${st.swath_key}/${st.rt_window} F=$rank: ") {
        mr.ncomp shouldBe rank
        // The reference's published cross-implementation tolerance is
        // 2 dp (decompose_parafac.py:561-563); observed agreement here
        // is 4e-15 — both kernels are double precision on the same
        // trajectory, so assert far tighter (1e-9 leaves headroom for
        // JVM/fma variation only)
        mr.rsq shouldBe seqRsq +- 1e-9
        // convergence iteration is EXACTLY reproducible too: the error
        // sequences agree to ~1e-15, far below the tol=1e-7 the stop
        // rule thresholds on
        mr.iterations shouldBe seqIters
      }
      maxRsqDiff = math.max(maxRsqDiff, math.abs(mr.rsq - seqRsq))
      maxIterDiff = math.max(maxIterDiff, math.abs(mr.iterations - seqIters))
    }
    info(f"models=${subset.size * (fMax - fMin + 1)} " +
      f"max|ΔRsq|=$maxRsqDiff%.3e max|Δiters|=$maxIterDiff")
  }

  test("logged R² is self-consistent with the stored factors (reconstruction)") {
    // q_ms_reconstruct consumes model.rsq as a scale factor
    // (reconstruct_scan.py:119): recompute R² from the STORED float32
    // factor matrices via the full Kruskal reconstruction and equate
    // with the logged value — proves the Gram-shortcut error and the
    // persisted factors describe the same model. Envelope: float32
    // storage of O(1)-magnitude factors → ~1e-7 relative per entry;
    // 1e-4 absolute on R² is generous and still 50× tighter than the
    // reference's own 2-dp contract.
    distributed should not be empty
    for (((sk, rw, rank), mr) <- distributed) {
      val st = subset.find(t => t.swath_key == sk && t.rt_window == rw).get
      val x = GaussianImpute.imputeTensor(st.data,
        st.n_samples, st.n_cycles, st.n_mz)
      var normXSq = 0.0
      x.foreach(v => normXSq += v * v)
      var errSq = 0.0
      var is = 0
      while (is < st.n_samples) {
        var it = 0
        while (it < st.n_cycles) {
          var im = 0
          val base = (is * st.n_cycles + it) * st.n_mz
          while (im < st.n_mz) {
            var xh = 0.0
            var f = 0
            while (f < rank) {
              xh += mr.sample_mode(is * rank + f).toDouble *
                mr.time_mode(it * rank + f).toDouble *
                mr.mass_mode(im * rank + f).toDouble
              f += 1
            }
            val d = x(base + im) - xh
            errSq += d * d
            im += 1
          }
          it += 1
        }
        is += 1
      }
      val rsqRe = 1.0 - errSq / normXSq
      withClue(s"model $sk/$rw F=$rank: ") {
        mr.rsq shouldBe rsqRe +- 1e-4
      }
    }
  }
}
