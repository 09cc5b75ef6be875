package graft.operators

import graft.Sessions
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Algebraic invariants of the inverted-index pair kernels against a
  * brute-force in-memory model, over randomized bucket multisets:
  * below the cap the kernels ARE the pair clique; above it framePairs
  * emits nothing for the bucket while bandPairs keeps a connectivity-
  * preserving star. Sample count is reduced — each sample runs real
  * Spark jobs. */
object PairKernelProps extends Properties("operators.pair_kernels") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = Sessions.local()

  // (doc_id, key) postings: ≤ 30 rows over ≤ 6 keys and ≤ 12 docs
  private val postingsGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(30, for {
      doc <- Gen.choose(0L, 11L)
      key <- Gen.choose(0L, 5L)
    } yield (doc, key)).map(_.distinct).suchThat(_.nonEmpty)

  private def cliquePairs(
      postings: List[(Long, Long)],
      keep: Long => Boolean): Map[(Long, Long), Long] =
    postings.groupBy(_._2).filter { case (k, _) => keep(k) }
      .toList
      .flatMap { case (_, rows) =>
        val ids = rows.map(_._1).distinct.sorted
        for { i <- ids.indices; j <- (i + 1) until ids.length }
          yield (ids(i), ids(j))
      }
      .groupBy(identity).map { case (p, l) => p -> l.size.toLong }

  property("framePairs = per-bucket clique with hot buckets removed") =
    forAll(postingsGen, Gen.choose(2, 6)) { (postings, cap) =>
      val s = spark
      import s.implicits._
      val df = postings.toDF("doc_id", "sig")
      val got = Multimodal.framePairs(s, df, maxDf = cap)
        .as[(Long, Long, Long)].collect()
        .map { case (a, b, n) => (a, b) -> n }.toMap
      val hotKeys = postings.groupBy(_._2)
        .collect { case (k, rows) if rows.map(_._1).distinct.size > cap => k }
        .toSet
      Prop(got == cliquePairs(postings, k => !hotKeys(k)))
    }

  property("bandPairs: cliques below cap, min-id star above, connectivity kept") =
    forAll(postingsGen, Gen.choose(2, 6)) { (postings, cap) =>
      val s = spark
      import s.implicits._
      val df = postings.map { case (d, k) => (d, 0, k.toString) }
        .toDF("doc_id", "band", "key")
      val got = Dedup.bandPairs(df, maxBucket = cap)
        .as[(Long, Long)].collect().toSet
      val expected = postings.groupBy(_._2).toList.flatMap {
        case (_, rows) =>
          val ids = rows.map(_._1).distinct.sorted
          if (ids.length > cap) ids.drop(1).map(i => (ids.head, i))
          else for { i <- ids.indices; j <- (i + 1) until ids.length }
            yield (ids(i), ids(j))
      }.toSet
      val connected = got.flatMap(p => Seq(p._1, p._2))
      val multiDocBucketsCovered = postings.groupBy(_._2).values
        .map(_.map(_._1).distinct).filter(_.size > 1)
        .forall(_.forall(connected.contains))
      Prop(got == expected && multiDocBucketsCovered)
    }
}
