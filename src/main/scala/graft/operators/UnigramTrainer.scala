package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer trainer — the
  * second tokenizer family of the LLM data pipeline, beside
  * [[BpeTrainer]]: instead of greedily growing merges, START from a
  * large seed vocabulary (all frequent substrings) and PRUNE it over
  * EM rounds, segmenting each word by Viterbi under the current piece
  * model and refitting piece frequencies from the chosen segmentations
  * (hard EM).
  *
  * Everything lives on an integer grid so the whole trainer is
  * hash-comparable against a DuckDB oracle:
  *   - piece cost = 40 − ⌊log₂ freq⌋ (an integer-quantized −log₂
  *     probability, unnormalized — normalization adds a per-piece
  *     constant, which only shifts the objective toward fewer pieces,
  *     the direction the unigram model already prefers);
  *   - Viterbi value = Σcost·32 + n_pieces (n ≤ [[MaxWordLen]] < 32):
  *     lexicographic (total cost, piece count) as ONE comparable long;
  *   - candidate key = value·8 + (4 − piece_len): exact ties resolve
  *     to the LONGEST piece, deterministically, in both engines;
  *   - prune rule: keep a piece iff usage·10⁴ ≥ Σusage (a relative
  *     floor — scale-free across corpus sizes); single characters are
  *     never pruned, so every word stays segmentable.
  *
  * Scale shape (identical to the BPE trainer's): the corpus text is
  * aggregated ONCE to the Zipf-bounded (word, freq) table; the seed
  * vocabulary is frequency-floored (bounded by corpus statistics, not
  * corpus size) and ships to executors as a broadcast map, exactly how
  * a production tokenizer vocab is deployed; each EM round is one
  * map-side Viterbi pass over words plus one tiny (piece, usage)
  * shuffle. Fixed [[Rounds]] rounds — no data-dependent loop length.
  */
object UnigramTrainer {

  /** Fixed unroll depth shared with the DuckDB oracle: the oracle's DP
    * is generated to exactly this many positions, so a corpus whose
    * words outgrow it must fail LOUDLY here, not diverge silently. */
  val MaxWordLen = 12
  val MaxPieceLen = 4
  val MinSeedFreq = 5L
  val Rounds = 2

  final case class Piece(piece: String, piece_len: Int, freq: Long)

  /** ⌊log₂ max(f,1)⌋ via binary-string length — the exact expression
    * the oracle uses (`length(bin(greatest(f,1))) - 1`). */
  private def log2floor(f: Long): Int =
    java.lang.Long.toBinaryString(math.max(f, 1L)).length - 1

  private def cost(f: Long): Long = 40L - log2floor(f)

  /** Viterbi-segment `w` under piece costs; returns the piece list.
    * Deterministic: min (Σcost, n_pieces), exact ties to the longest
    * piece (see candidate-key encoding in the object doc). */
  def viterbi(w: String, freqOf: collection.Map[String, Long]): Seq[String] = {
    val n = w.length
    require(n <= MaxWordLen,
      s"word '$w' exceeds MaxWordLen=$MaxWordLen — raise the oracle unroll")
    val dv = new Array[Long](n + 1)
    val bl = new Array[Int](n + 1)
    var k = 1
    while (k <= n) {
      var best = Long.MaxValue
      var l = 1
      while (l <= math.min(MaxPieceLen, k)) {
        val p = w.substring(k - l, k)
        freqOf.get(p).foreach { f =>
          val ck = (dv(k - l) + cost(f) * 32 + 1) * 8 + (4 - l)
          if (ck < best) best = ck
        }
        l += 1
      }
      require(best != Long.MaxValue,
        s"position $k of '$w' unreachable — character pieces missing")
      dv(k) = best / 8
      bl(k) = 4 - (best % 8).toInt
      k += 1
    }
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    k = n
    while (k > 0) {
      rev += w.substring(k - bl(k), k)
      k -= bl(k)
    }
    rev.reverse.toSeq
  }

  /** (word, freq) over the corpus — the same aggregation the BPE
    * trainer starts from. */
  private[operators] def wordTable(s: SparkSession, docs: DataFrame): DataFrame =
    docs.select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Train the tokenizer: seed → [[Rounds]] hard-EM prune rounds.
    * Returns the final vocabulary, driver-side (a tokenizer vocab is
    * small by construction — the frequency floor bounds it by corpus
    * statistics, not corpus size). */
  def train(s: SparkSession, docs: DataFrame): Seq[Piece] = {
    import s.implicits._
    val words = wordTable(s, docs).as[(String, Long)].persist()
    val maxLen = words
      .agg(max(length(col("w")))).head() match {
        case r if r.isNullAt(0) => 0
        case r => r.getInt(0)
      }
    require(maxLen <= MaxWordLen,
      s"corpus max word length $maxLen > MaxWordLen=$MaxWordLen — " +
        "raise the unroll depth in BOTH the kernel and the oracle")

    // seed: every substring of length 1..4; len ≥ 2 pieces need
    // weighted frequency ≥ MinSeedFreq, single chars are unconditional
    val seed = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(MaxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("p", "f")
      .groupBy("p").agg(sum(col("f")).as("f"))
      .filter(length(col("p")) === 1 || col("f") >= MinSeedFreq)
      .as[(String, Long)].collect()
    val chars = seed.filter(_._1.length == 1).map(_._1).toSet

    var vocab: Map[String, Long] = seed.toMap
    (1 to Rounds).foreach { _ =>
      val bc = s.sparkContext.broadcast(vocab)
      val usage = words.flatMap { case (w, f) =>
        viterbi(w, bc.value).map(p => (p, f))
      }.toDF("p", "f")
        .groupBy("p").agg(sum(col("f")).as("f"))
        .as[(String, Long)].collect()
      bc.destroy()
      val total = usage.map(_._2).sum
      val kept = usage
        .filter { case (p, f) => p.length >= 2 && f * 10000L >= total }
        .toMap
      val usageOf = usage.toMap
      vocab = kept ++ chars.map(c => c -> usageOf.getOrElse(c, 0L))
    }
    words.unpersist()
    vocab.toSeq.map { case (p, f) => Piece(p, p.length, f) }
      .sortBy(pc => (-pc.freq, pc.piece))
  }

  /** Cached train, one vocab per (session, corpus dir). */
  def trainCached(
      s: SparkSession, d: String, docs: => DataFrame): Seq[Piece] =
    graft.StoreBuilds.cached(s, d, "text_unigram_vocab")(train(s, docs))

  /** Viterbi-encode the corpus with a trained vocab: per-document
    * (chars_in, tokens_out, compression) — the same output contract as
    * [[BpeTrainer.encode]] so the two tokenizers compare directly. */
  def encode(
      s: SparkSession, docs: DataFrame, vocab: Seq[Piece]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(
      vocab.map(p => p.piece -> p.freq).toMap)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        var before = 0L
        var after = 0L
        words.foreach { w =>
          before += w.length
          after += viterbi(w, bc.value).length
        }
        (id, before, after,
          if (before == 0) 0.0
          else math.rint(10000.0 * after / before) / 10000.0)
      }
      .toDF("doc_id", "chars_in", "tokens_out", "compression")
      .orderBy("doc_id")
  }
}
