package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. 2016) — the
  * vocabulary-learning step of an LLM data pipeline, run as a Spark
  * loop:
  *
  *  1. aggregate the corpus once to (word, freq) — after this the text
  *     never moves again; all later shuffles carry symbol-pair counts;
  *  2. per merge rank: count adjacent symbol pairs weighted by word
  *     freq (one shuffle of pair counts), pick the argmax pair with a
  *     total-order tie-break (min of a (−count, left, right) struct —
  *     a partial-aggregable scalar, not a sort), apply the merge to
  *     every word's symbol sequence in a map-side kernel.
  *
  * The driver sees exactly one (pair, count) row per rank — the same
  * "collect a scalar per iteration" shape as the reference's
  * decomposition loop. At 100 TB the word table is the unique-token
  * vocabulary (≪ corpus, Zipf-bounded), so per-rank cost is
  * O(vocab · avg word length) map work + one tiny shuffle.
  *
  * No DuckDB oracle: the merge order is a sequentially-dependent greedy
  * choice (rank k's counts depend on merge k−1) — covered by the golden
  * spec against an independent sequential reference implementation.
  */
object BpeTrainer {

  /** One learned merge. */
  final case class Merge(
      merge_rank: Int, left: String, right: String, pair_count: Long)

  /** Replace adjacent (l, r) symbol pairs with the merged symbol,
    * left-to-right non-overlapping — the canonical BPE apply step. */
  def mergeSeq(sym: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Cached train for the registry queries, one merge table per
    * (session, corpus dir, k): the trainer is deterministic, and both
    * the train and encode registry queries need the same table. */
  def trainCached(
      s: SparkSession, d: String, docs: => DataFrame, k: Int): Seq[Merge] =
    graft.StoreBuilds.cached(s, s"$d#k=$k", "text_bpe_merges") {
      train(s, docs, k).collect().toSeq
        .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3)))
    }

  /** Learn `k` merges from the corpus; returns (merge_rank, left,
    * right, pair_count) ordered by rank. */
  def train(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    var words = docs
      .select(explode(filter(split(col("text"), " "), w => w =!= ""))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, c) => (w.map(_.toString).toArray, c) }
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // ONE job per rank (r11, guide §1.2 "remove unnecessary passes"):
    // the argmax job itself materializes the current generation's
    // persist, so no separate count() pass is needed — the PARENT
    // generation just has to stay cached until that job has run (it
    // feeds the child's map), then releases. Two vocab-sized
    // generations are briefly live instead of one; the per-rank
    // lineage still truncates at the cached parent exactly as before.
    var parent: Option[org.apache.spark.sql.Dataset[(Array[String], Long)]] =
      None
    var rank = 1
    var exhausted = false
    try while (rank <= k && !exhausted) {
      val best = words
        .flatMap { case (sym, c) =>
          if (sym.length < 2) Iterator.empty
          else sym.iterator.sliding(2).withPartial(false)
            .map(p => (p.head, p(1), c))
        }
        .toDF("l", "r", "c")
        .groupBy("l", "r").agg(sum(col("c")).as("cnt"))
        // argmax with (count desc, left, right) total order as ONE
        // partial-aggregable scalar — no global sort, no limit(1)
        .agg(min(struct((-col("cnt")).as("nc"), col("l"), col("r")))
          .as("best"))
        .select(col("best.l"), col("best.r"), (-col("best.nc")).as("cnt"))
        .collect()
      // `words` is materialized now — its parent generation is no
      // longer read by anything and can release
      parent.foreach(_.unpersist())
      parent = None
      if (best.isEmpty || best(0).isNullAt(0)) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(rank, l, r, cnt)
        val next = words
          .map { case (sym, c) => (mergeSeq(sym, l, r), c) }
          .persist() // lazy: next rank's argmax job materializes it
        parent = Some(words)
        words = next
        rank += 1
      }
    } finally {
      // normal exit or a throwing mid-loop job: both live generations
      // must release (the bench harness swallows failures and keeps
      // running — the q_sim_ivfpq leak class)
      parent.foreach(_.unpersist())
      words.unpersist()
    }
    s.createDataFrame(merges.toSeq).orderBy("merge_rank")
  }

  /** Apply learned merges to the corpus: per-document token counts
    * before (characters) and after encoding — the compression the
    * vocabulary buys. The merge table is tiny (k rows) and ships as a
    * closure constant; encoding is pure map-side work per document. */
  def encode(
      s: SparkSession, docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        var before = 0L
        var after = 0L
        words.foreach { w =>
          var sym = w.map(_.toString).toArray
          before += sym.length
          merges.foreach { case (l, r) => sym = mergeSeq(sym, l, r) }
          after += sym.length
        }
        (id, before, after,
          if (before == 0) 0.0
          else math.rint(10000.0 * after / before) / 10000.0)
      }
      .toDF("doc_id", "chars_in", "tokens_out", "compression")
      .orderBy("doc_id")
  }
}
