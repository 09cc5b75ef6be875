package graft.ms

import graft.ms.linalg.{NNParafac, NumpyRandom}
import graft.ms.ops.Tensorizer
import graft.sources.{MzMLSource, SeqIO}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck invariants for the sequential kernels (FIXTURES.md plan):
  * the greedy partitioner, cycle binning, numpy-parity rounding, and
  * digestion are the order-dependent pieces that SQL oracles can't
  * cover — properties pin their algebraic contracts instead. */
object KernelProps extends Properties("ms.kernels") {

  private val mzList: Gen[List[Double]] =
    Gen.listOfN(80, Gen.choose(100.0, 2000.0))

  property("partitionStarts are sorted, distinct, ppm-separated") =
    forAll(mzList, Gen.choose(1.0, 500.0)) { (mzs, ppm) =>
      val sorted = mzs.distinct.sorted
      val starts = Tensorizer.partitionStarts(sorted, ppm)
      val sortedDistinct =
        starts == starts.distinct.sorted
      val separated = starts.sliding(2).forall {
        case Seq(a, b) => b - a > Tensorizer.ppmTol(a, ppm)
        case _ => true
      }
      sortedDistinct && separated
    }

  property("every m/z maps to the greatest start at or below it") =
    forAll(mzList, Gen.choose(1.0, 500.0)) { (mzs, ppm) =>
      val sorted = mzs.distinct.sorted
      val starts = Tensorizer.partitionStarts(sorted, ppm).toIndexedSeq
      Prop(sorted.isEmpty || sorted.forall { mz =>
        val p = Tensorizer.assignPartition(starts, mz)
        p <= mz && !starts.exists(s => s > p && s <= mz)
      })
    }

  property("partition of a start is itself, within its ppm tolerance") =
    forAll(mzList, Gen.choose(1.0, 500.0)) { (mzs, ppm) =>
      val sorted = mzs.distinct.sorted
      val starts = Tensorizer.partitionStarts(sorted, ppm).toIndexedSeq
      Prop(starts.forall(s => Tensorizer.assignPartition(starts, s) == s))
    }

  private val ms1Times: Gen[List[Double]] =
    Gen.listOfN(20, Gen.choose(0.0, 1000.0)).map(_.distinct.sorted)

  property("cycleOf bins [t_i, t_i+1) and rejects out-of-range rts") =
    forAll(ms1Times, Gen.choose(-10.0, 1010.0)) { (ts, rt) =>
      val v = ts.toIndexedSeq
      val c = Tensorizer.cycleOf(v, rt)
      if (v.isEmpty) Prop(c == -1)
      else if (rt < v.head || rt >= v.last + 0.1) Prop(c == -1)
      else Prop(c >= 0 && c < v.length &&
        v(c) <= rt && (c == v.length - 1 || rt < v(c + 1)))
    }

  property("roundHalfEven is idempotent and within half-ulp of target") =
    forAll(Gen.choose(-1e6, 1e6), Gen.choose(0, 8)) { (v, d) =>
      val r = MzMLSource.roundHalfEven(v, d)
      val again = MzMLSource.roundHalfEven(r, d)
      // Slack: scaled-rint (np.around) semantics round v·10^d, whose
      // representation error is O(ulp(v)); an exact .5 landing point can
      // then tie-to-even a full quantum away, putting |r−v| just past
      // 0.5·10⁻ᵈ (e.g. v=375682.490295785, d=8 → 5.0059e-9 vs 5.001e-9).
      val slack = 2 * math.ulp(v) + 1e-12
      Prop(again == r && math.abs(r - v) <= 0.5 * math.pow(10.0, -d) + slack)
    }

  // np.around golden values (scaled-rint semantics, NOT decimal
  // half-even: 4.435 scales to 443.49999…, 2.675 to 267.50000…1)
  property("roundHalfEven matches np.around on the divergent tie class") =
    Prop(
      MzMLSource.roundHalfEven(4.125, 2) == 4.12 &&
      MzMLSource.roundHalfEven(4.405, 2) == 4.40 &&
      MzMLSource.roundHalfEven(4.435, 2) == 4.43 &&
      MzMLSource.roundHalfEven(4.445, 2) == 4.44 &&
      MzMLSource.roundHalfEven(2.675, 2) == 2.68)

  private val parafacCase: Gen[(Int, Int, Int, Int, Long)] = for {
    s <- Gen.choose(1, 8)
    t <- Gen.choose(1, 8)
    m <- Gen.choose(1, 8)
    rank <- Gen.choose(1, 9)
    seed <- Gen.choose(0L, 1000L)
  } yield (s, t, m, rank, seed)

  // The kernel's error comes from cached Gram matrices and the mode-2
  // numerator; a cache left stale by a factor update drifts from the
  // error of the factors it returns. Ranks above a dimension included.
  property("decompose's recError is ‖X − X̂‖/‖X‖ of its returned factors") =
    forAll(parafacCase) { case (s, t, m, rank, seed) =>
      val rng = new NumpyRandom(seed)
      val x = Array.fill(s * t * m)(rng.nextDouble())
      val res = NNParafac.decompose(x, s, t, m, rank, nIterMax = 25, tol = 0.0)
      val Array(a, b, c) = res.factors
      var diffSq, normSq = 0.0
      for (is <- 0 until s; it <- 0 until t; im <- 0 until m) {
        var xhat = 0.0
        for (f <- 0 until rank) xhat += a(is, f) * b(it, f) * c(im, f)
        val v = x((is * t + it) * m + im)
        diffSq += (v - xhat) * (v - xhat)
        normSq += v * v
      }
      val explicit = math.sqrt(diffSq / normSq)
      // Where the fit is exact (a 5×1×1 tensor at any rank), the
      // kernel's ‖X‖² − 2⟨X,X̂⟩ + ‖X̂‖² cancels to rounding noise of
      // ~1e-16 ‖X‖², so there the squared errors are compared instead.
      val squaredGap = math.abs(res.recError * res.recError - diffSq / normSq)
      Prop(math.abs(res.recError - explicit) <= 1e-9 * explicit ||
        squaredGap <= 1e-14) :|
        s"($s,$t,$m) rank $rank: returned ${res.recError}, explicit $explicit"
    }

  private val peptide: Gen[String] =
    Gen.listOf(Gen.oneOf("ACDEFGHIKLMNPQRSTVWY".toSeq)).map(_.mkString)

  property("tryptic fragments reassemble to the input") =
    forAll(peptide) { s =>
      Prop(SeqIO.trypticDigest(s).mkString == s.toUpperCase)
    }

  property("fragments only end in K/R (except the last), never before P") =
    forAll(peptide) { s =>
      val frags = SeqIO.trypticDigest(s)
      val inner = frags.dropRight(1)
      Prop(inner.forall(f => f.nonEmpty && (f.last == 'K' || f.last == 'R')) &&
        // no cleavage before proline: a fragment never starts with P
        frags.drop(1).forall(f => f.isEmpty || f.head != 'P'))
    }

  property("decoy mutations preserve residue multiset") =
    forAll(peptide) { s =>
      val up = s.toUpperCase
      Prop(SeqIO.mutateRotate(up).sorted == up.sorted &&
        SeqIO.mutateShuffleEnd(up).sorted == up.sorted)
    }
}
