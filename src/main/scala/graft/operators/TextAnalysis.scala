package graft.operators

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation pipelines.
  *
  * Every operator here is a pure per-row computation over `documents.text`
  * — array transforms + regexes inside whole-stage codegen, NO shuffle
  * except the final ORDER BY. At 100 TB these run at scan speed and
  * their outputs (quality score, language, fingerprint) become partition
  * or filter columns for downstream stages.
  *
  *  - token counting: whitespace tokens + a BPE-ish lexical split
  *    (`[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` — letters / digits / single
  *    punctuation, the classic pre-tokenizer shape).
  *  - quality scoring: length, punctuation ratio, stopword ratio →
  *    composite score (the C4/Gopher-style heuristic family).
  *  - language ID: per-language stopword-lexicon hit counting with a
  *    deterministic argmax tie-break.
  *  - fingerprinting: rolling polynomial hash over word-hash 3-grams
  *    (winnowing-style document signature; min + distinct-count).
  */
object TextAnalysis extends QueryPack {

  private val bpeRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** 32-bit md5-derived word hash, identical in Spark and DuckDB. */
  private def md5h(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 8), 16, 10) AS BIGINT)"

  // PII patterns — the char-class-only subset that means the same thing
  // to Java regex (Spark) and RE2 (DuckDB).
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  private val stopEn = Seq("the", "a", "of", "and", "is", "to", "in", "on")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "zu", "im", "auf")
  private val stopFr = Seq("le", "la", "les", "et", "est", "de", "dans", "sur")

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Shared DuckDB CTE chain for the bigram LM (tokenize → bigrams →
    * counts → vocab) — ONE definition feeding both the q_text_lm_score
    * oracle and the q_text_ccnet_buckets oracle, so a change to the LM
    * (tokenization, counts) cannot leave one oracle checking a stale
    * formula while the Spark sides stay composed. */
  private val lmOracleCtes = """t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        bg AS (
          SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, w AS w1,
                   lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
            FROM (SELECT doc_id, unnest(ws) AS w,
                         generate_subscripts(ws, 1) AS i FROM t))
          WHERE w2 IS NOT NULL),
        cnt2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        cnt1 AS (SELECT w1, sum(c2) AS c1 FROM cnt2 GROUP BY w1),
        vocab AS (SELECT count(DISTINCT w) AS v FROM (
          SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg))"""

  /** The add-1-smoothed mean log-likelihood aggregate (4-dp rounded) —
    * the single scoring formula both LM oracles state. */
  private val lmLogprobAgg = "round(avg(ln((c2 + 1.0) / (c1 + v))), 4)"

  /** Per-document Gopher metrics frame (doc_id, text, n_words, sum_len,
    * n_alpha, top_cnt) — one scan + one (doc, word) aggregate; shared by
    * the standalone filter query and the curation funnel. */
  private def gopherMetrics(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val t = Tables.documents(s, d)
      .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
    val tops = t.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_cnt"))
    t.select(col("doc_id"), col("text"),
        size(col("ws")).as("n_words"),
        expr("aggregate(ws, 0, (a, x) -> a + length(x))").as("sum_len"),
        size(filter(col("ws"), w => w.rlike("[A-Za-z]"))).as("n_alpha"))
      .join(tops, "doc_id")
  }

  /** The Gopher acceptance rule over [[gopherMetrics]] columns. */
  private def gopherPasses: org.apache.spark.sql.Column =
    col("n_words") >= 50 && col("n_words") <= 100000 &&
      col("sum_len") >= col("n_words") * 3 &&
      col("sum_len") <= col("n_words") * 10 &&
      col("n_alpha") * 5 >= col("n_words") * 4 &&
      col("top_cnt") * 5 <= col("n_words")

  /** The BM25 top-10 leg (query "spark join hash", k1=1.2, b=0.75 on the
    * integer milli/micro grid) — the single corpus-scan ranking behind
    * BOTH `q_text_bm25` and the sparse half of `q_sim_hybrid_rrf`.
    * Shared so callers see the cost explicitly: each call is one full
    * documents scan (words → dl/tf/df → score → TakeOrdered 10); a
    * caller fusing several retrievers pays one scan per leg, not a
    * hidden registry re-resolution. */
  private[operators] def bm25Top10(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val words = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
    val terms = Seq("spark", "join", "hash")
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val posts = words.filter(col("w").isInCollection(terms))
    val tf = posts.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = posts.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("(1000 * sum(dl)) div count(1)").as("avgdl_milli"))
    tf.join(broadcast(df), "w").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro", expr("(1000000L * n_docs) div df"))
      .withColumn("len_norm_milli",
        expr("250L + (750L * ((dl * 1000000L) div avgdl_milli)) div 1000"))
      .withColumn("tfn_micro",
        expr("(tf * 2200L * 1000000L) div " +
          "(tf * 1000L + (1200L * len_norm_milli) div 1000)"))
      .withColumn("term_score", expr("(idf_micro * tfn_micro) div 1000000"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("term_score")).as("bm25_micro"))
      .orderBy(col("bm25_micro").desc, col("doc_id")).limit(10)
  }

  /** URL canonicalization chain (lowercase → strip scheme → strip
    * www. → strip utm_* suffix → strip trailing slash) — factored so
    * the hot-key stress spec drives the same kernel the query runs. */
  private[operators] def canonicalUrl(
      u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(u), "^https?://", ""),
          "^www\\.", ""),
        "\\?utm_[a-z_]+=[^&]*$", ""),
      "/$", "")

  /** URL-chain dedup groups over (doc_id, url): canonical key →
    * (n_docs, keep_doc). ONE map-side-combinable hash aggregate — a hot
    * canonical key (a page re-crawled 100k×) collapses to one partial
    * row per map task, so shuffle volume is O(distinct keys), never
    * O(rows); the stress spec pins that. */
  private[operators] def urlDedupGroups(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") >= 2)

  /** Salted two-phase per-domain top-K (cap survivors by (n_chars desc,
    * doc_id)) over (doc_id, source, n_chars). Phase 1 ranks within
    * (source, salt) so no reducer ever sorts more than domain/salts
    * rows; phase 2 ranks the ≤ salts·cap survivors. Identical rows to
    * the naive one-window plan, which is what the oracle (and the
    * stress spec's equivalence leg) runs. */
  private[operators] def domainCapKept(
      docs: org.apache.spark.sql.DataFrame,
      cap: Int, salts: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("salt", pmod(col("doc_id"), lit(salts)))
      .withColumn("rs", row_number().over(
        Window.partitionBy("source", "salt")
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rs") <= cap)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") <= cap)
      .drop("salt", "rs", "rk")
  }

  /** Word-trigram 60-bit digests per (doc_id, text) — the novelty
    * kernel: the shuffle carries 8-byte digests, never gram strings,
    * and per-doc distinct happens map-side in the typed loop. */
  private[operators] def gramDigests(
      docs: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        if (ws.length < 3) Iterator.empty
        else {
          val set = scala.collection.mutable.HashSet.empty[Long]
          var i = 0
          while (i + 2 < ws.length) {
            val g = ws(i) + " " + ws(i + 1) + " " + ws(i + 2)
            val dg = md.digest(g.getBytes("UTF-8"))
            var h = 0L
            var b = 0
            while (b < 8) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
            set += (h >>> 4)
            i += 1
          }
          set.iterator.map(h => (id, h))
        }
      }
    }.toDF("doc_id", "g")
  }

  /** First-occurrence novelty aggregation over (doc_id, g) digests:
    * per-doc gram count, novel count (this doc is the gram's min
    * doc_id), and novelty ppm. min-per-gram and the count join are
    * both map-side combinable; a gram in 100k docs contributes O(df)
    * join rows — linear, never pairwise. */
  private[operators] def noveltyFromGrams(
      grams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val first = grams.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm",
        expr("n_novel * 1000000 div n_grams"))
  }

  // ------------------------------------------------------------------
  // BPE oracle generation. The trainer is greedy-sequential (merge k's
  // pair counts depend on merge k−1), which long kept it rows-only —
  // but each merge APPLICATION is expressible with window functions:
  // for l ≠ r adjacent occurrences can never overlap (an overlap at
  // i, i+1 would force r = l), so every occurrence merges; for l = r
  // the left-to-right scan merges at even relative offsets within each
  // maximal same-symbol run (gaps-and-islands + parity). So the WHOLE
  // 8-merge session unrolls into 8 chained CTE stages — pair count →
  // argmax with the (count desc, l, r) tie-break → windowed apply —
  // and both BPE queries become hash-checked.
  private val BpeK = 8

  private def bpeStage(k: Int): String = s"""
  occ$k AS (
    SELECT w, freq, pos, sym,
           lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
    FROM syms${k - 1}),
  best$k AS (
    SELECT sym AS l, nxt AS r, sum(freq) AS cnt
    FROM occ$k WHERE nxt IS NOT NULL
    GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
  brk$k AS (
    -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus exhausts its
    -- merges before rank $k, best$k is EMPTY and a cross join would
    -- wipe every symbol row (emptying the whole vocabulary downstream);
    -- with null l/r the occ predicate is never true and syms$k passes
    -- through unchanged — matching the trainer's early-stop
    SELECT o.w, o.freq, o.pos, o.sym, b.l, b.r, b.cnt,
           CASE WHEN o.sym = b.l AND o.nxt IS NOT DISTINCT FROM b.r
                THEN 1 ELSE 0 END AS occ,
           CASE WHEN lag(o.sym) OVER (PARTITION BY o.w ORDER BY o.pos)
                     IS DISTINCT FROM o.sym THEN 1 ELSE 0 END AS brk
    FROM occ$k o LEFT JOIN best$k b ON TRUE),
  run$k AS (
    SELECT *, sum(brk) OVER (PARTITION BY w ORDER BY pos) AS run_id
    FROM brk$k),
  rel$k AS (
    SELECT *, row_number() OVER (PARTITION BY w, run_id ORDER BY pos) - 1
                AS rel
    FROM run$k),
  ms$k AS (
    SELECT *, CASE WHEN occ = 1 AND (l <> r OR rel % 2 = 0)
                   THEN 1 ELSE 0 END AS mstart
    FROM rel$k),
  cons$k AS (
    SELECT *, coalesce(lag(mstart) OVER (PARTITION BY w ORDER BY pos), 0)
                AS consumed
    FROM ms$k),
  syms$k AS (
    SELECT w, freq,
           row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
           CASE WHEN mstart = 1 THEN l || r ELSE sym END AS sym
    FROM cons$k WHERE consumed = 0)"""

  private val wordsCte = """
  words AS (
    SELECT w, count(*) AS freq FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents)
    GROUP BY w)"""

  private val bpeBaseCte = wordsCte + """,
  syms0 AS (
    SELECT w, freq, i - 1 AS pos, substr(w, i, 1) AS sym
    FROM words,
         LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) t)"""

  private val bpeStagesCte = (1 to BpeK).map(bpeStage).mkString(",")

  private val bpeTrainOracle: String =
    "WITH" + bpeBaseCte + "," + bpeStagesCte + ",\n  merges AS (" +
      (1 to BpeK).map(k =>
        s"""SELECT $k AS merge_rank, l AS "left", r AS "right",
            cnt AS pair_count FROM best$k""").mkString(" UNION ALL ") +
      """)
SELECT CAST(merge_rank AS INT) AS merge_rank, "left", "right",
       CAST(pair_count AS BIGINT) AS pair_count
FROM merges ORDER BY merge_rank"""

  private val bpeEncodeOracle: String =
    "WITH" + bpeBaseCte + "," + bpeStagesCte + s""",
  fin AS (SELECT w, count(*) AS n_tok FROM syms$BpeK GROUP BY w),
  occw AS (
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
    FROM documents),
  perdoc AS (
    SELECT o.doc_id,
           CAST(sum(length(o.w)) AS BIGINT) AS chars_in,
           CAST(sum(f.n_tok) AS BIGINT) AS tokens_out
    FROM occw o JOIN fin f ON f.w = o.w
    GROUP BY o.doc_id)
SELECT d.doc_id,
       coalesce(p.chars_in, 0) AS chars_in,
       coalesce(p.tokens_out, 0) AS tokens_out,
       CASE WHEN coalesce(p.chars_in, 0) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round_even(10000.0 * p.tokens_out / p.chars_in, 0)
                 / 10000.0
       END AS compression
FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id"""

  // ------------------------------------------------------------------
  // Unigram-LM tokenizer oracle generation. The trainer
  // ([[UnigramTrainer]]) is Viterbi inference + hard-EM prune rounds,
  // every quantity on an integer grid — so, like the BPE session, the
  // WHOLE training unrolls into generated SQL: a 12-position DP block
  // per round (candidate key = (Σcost·32 + n)·8 + (4−len): min() gives
  // the Viterbi value AND the longest-piece tie-break in one integer),
  // a single-path recursive walk reconstructs each word's segmentation
  // from the per-position best-length table, usage counts refit the
  // piece frequencies, and the relative prune floor keeps or drops
  // pieces. Both unigram queries and the tokenizer-comparison query
  // are hash-checked end to end.
  private val UniMaxW = UnigramTrainer.MaxWordLen

  /** One Viterbi DP block over `words` with vocabulary `voc`
    * (columns p, f); defines dp${tag}_k, bp$tag, path$tag (recursive),
    * pieces$tag. */
  private def uniDpBlock(tag: String, voc: String): String = {
    val stages = (1 to UniMaxW).map { k =>
      val cands = (1 to math.min(4, k)).map { l =>
        s"""SELECT d.w,
               (d.dv + (40 - (length(bin(greatest(v.f, 1))) - 1)) * 32 + 1)
                 * 8 + ${4 - l} AS ck
            FROM dp${tag}_${k - l} d JOIN $voc v
              ON length(d.w) >= $k
                 AND v.p = substr(d.w, ${k - l + 1}, $l)"""
      }.mkString("\n            UNION ALL\n            ")
      s"""
  dp${tag}_$k AS MATERIALIZED (
    SELECT w, min(ck) // 8 AS dv, 4 - (min(ck) % 8) AS bl
    FROM ($cands) GROUP BY w)"""
    }.mkString(",")
    val bp = (1 to UniMaxW).map(k =>
      s"SELECT w, CAST($k AS BIGINT) AS pos, CAST(bl AS BIGINT) AS bl " +
        s"FROM dp${tag}_$k").mkString("\n    UNION ALL\n    ")
    s"""
  dp${tag}_0 AS MATERIALIZED (
    SELECT w, CAST(0 AS BIGINT) AS dv, 0 AS bl FROM words),$stages,
  bp$tag AS MATERIALIZED (
    $bp),
  path$tag AS (
    SELECT w, CAST(length(w) AS BIGINT) AS pos FROM words
    WHERE length(w) >= 1
    UNION ALL
    SELECT p.w, p.pos - b.bl FROM path$tag p
    JOIN bp$tag b ON b.w = p.w AND b.pos = p.pos
    WHERE p.pos - b.bl > 0),
  pieces$tag AS MATERIALIZED (
    SELECT p.w,
           substr(p.w, CAST(p.pos - b.bl + 1 AS INT), CAST(b.bl AS INT))
             AS piece
    FROM path$tag p JOIN bp$tag b ON b.w = p.w AND b.pos = p.pos)"""
  }

  /** Seed vocabulary: every 1..4-gram; len ≥ 2 needs weighted freq ≥
    * the floor, single chars unconditional (never prunable). */
  private val uniBaseCte = s"""
  usubs AS (
    SELECT substr(w, i, l) AS p, sum(freq) AS f
    FROM words,
         LATERAL (SELECT unnest(generate_series(1, length(w))) AS i) ti,
         LATERAL (SELECT unnest([1, 2, 3, 4]) AS l) tl
    WHERE i + l - 1 <= length(w)
    GROUP BY 1),
  voc0 AS MATERIALIZED (SELECT p, CAST(f AS BIGINT) AS f FROM usubs
           WHERE length(p) = 1 OR f >= ${UnigramTrainer.MinSeedFreq}),
  uchars AS (SELECT p FROM voc0 WHERE length(p) = 1)"""

  /** One hard-EM round: segment with voc${r−1}, refit usage, prune. */
  private def uniRound(r: Int): String =
    uniDpBlock(r.toString, s"voc${r - 1}") + s""",
  usage$r AS MATERIALIZED (SELECT piece AS p, CAST(sum(wd.freq) AS BIGINT) AS f
              FROM pieces$r pc JOIN words wd ON wd.w = pc.w GROUP BY 1),
  tot$r AS (SELECT sum(f) AS t FROM usage$r),
  voc$r AS MATERIALIZED (
    SELECT u.p, u.f FROM usage$r u CROSS JOIN tot$r
    WHERE length(u.p) >= 2 AND u.f * 10000 >= t
    UNION ALL
    SELECT c.p, coalesce(u.f, CAST(0 AS BIGINT)) AS f
    FROM uchars c LEFT JOIN usage$r u ON u.p = c.p)"""

  private val uniTrainCtes =
    uniBaseCte + "," + (1 to UnigramTrainer.Rounds).map(uniRound).mkString(",")

  private val uniFinalVoc = s"voc${UnigramTrainer.Rounds}"

  private val uniTrainOracle: String =
    "WITH RECURSIVE" + wordsCte + "," + uniTrainCtes + s"""
SELECT p AS piece, CAST(length(p) AS INT) AS piece_len, f AS freq
FROM $uniFinalVoc ORDER BY freq DESC, piece"""

  private val uniEncodeOracle: String =
    "WITH RECURSIVE" + wordsCte + "," + uniTrainCtes + "," +
      uniDpBlock("3", uniFinalVoc) + s""",
  ufin AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_tok
           FROM path3 GROUP BY w),
  occw AS (
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
    FROM documents),
  perdoc AS (
    SELECT o.doc_id,
           CAST(sum(length(o.w)) AS BIGINT) AS chars_in,
           CAST(sum(f.n_tok) AS BIGINT) AS tokens_out
    FROM occw o JOIN ufin f ON f.w = o.w
    GROUP BY o.doc_id)
SELECT d.doc_id,
       coalesce(p.chars_in, 0) AS chars_in,
       coalesce(p.tokens_out, 0) AS tokens_out,
       CASE WHEN coalesce(p.chars_in, 0) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round_even(10000.0 * p.tokens_out / p.chars_in, 0)
                 / 10000.0
       END AS compression
FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id"""

  /** Both tokenizers, one table: the corpus-level fertility /
    * compression comparison (the number a tokenizer choice is actually
    * judged by). Combines the BPE 8-stage unroll and the unigram
    * train+encode unroll in one statement. */
  private val uniCmpOracle: String =
    "WITH RECURSIVE" + bpeBaseCte + "," + bpeStagesCte + "," +
      uniTrainCtes + "," + uniDpBlock("3", uniFinalVoc) + s""",
  bfin AS (SELECT w, CAST(count(*) AS BIGINT) AS n_tok
           FROM syms$BpeK GROUP BY w),
  ufin AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_tok
           FROM path3 GROUP BY w),
  tots AS (SELECT CAST(sum(freq) AS BIGINT) AS total_words,
                  CAST(sum(freq * length(w)) AS BIGINT) AS total_chars
           FROM words),
  bt AS (SELECT CAST(sum(wd.freq * f.n_tok) AS BIGINT) AS total_tokens
         FROM words wd JOIN bfin f ON f.w = wd.w),
  ut AS (SELECT CAST(sum(wd.freq * f.n_tok) AS BIGINT) AS total_tokens
         FROM words wd JOIN ufin f ON f.w = wd.w)
SELECT * FROM (
  SELECT 'bpe' AS tokenizer, total_words, total_tokens,
         total_tokens * 1000 // total_words AS fertility_milli,
         total_chars * 1000 // total_tokens AS chars_per_token_milli
  FROM tots, bt WHERE total_words > 0 AND total_tokens > 0
  UNION ALL
  SELECT 'unigram', total_words, total_tokens,
         total_tokens * 1000 // total_words,
         total_chars * 1000 // total_tokens
  FROM tots, ut WHERE total_words > 0 AND total_tokens > 0)
ORDER BY tokenizer"""

  /** Stopword-lexicon language predictions — the first "annotator":
    * per-doc hit counts + argmax with the en > de > fr tie order.
    * Shared by q_text_langid, q_text_langid_eval, and q_text_kappa. */
  private def langidPreds(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
      .withColumn("en_hits", size(filter(col("ws"), w => w.isin(stopEn: _*))))
      .withColumn("de_hits", size(filter(col("ws"), w => w.isin(stopDe: _*))))
      .withColumn("fr_hits", size(filter(col("ws"), w => w.isin(stopFr: _*))))
      .withColumn("pred_lang",
        when(col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("fr_hits"), "de")
          .otherwise("fr"))

  /** Held-out predictions of the word-count classifier — the second
    * "annotator": 80/20 md5-bucket split, per-class training-token
    * scores, argmax with (score desc, class) tie order, 'de' fallback
    * for empty-vocabulary docs. Shared by q_text_classifier and
    * q_text_kappa. Returns (doc_id, lang, pred_lang, score) for the
    * held-out bucket only. */
  private def classifierPreds(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (held, scores) = classifierScores(s, d)
    // argmax via min_by on the (-score, c) total order — identical to
    // the (score desc, c asc) row_number pick, map-side combinable with
    // no window sort (r11, guide §2.4/§4). Invariant making the
    // negation safe: `score` is an integral LONG token count (see
    // classifierScores; the fallback below is lit(0L)) — no NaN and no
    // signed zero exist, so asc-of-negated is exactly desc.
    val best = scores
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("c"), col("score")),
        struct(negate(col("score")), col("c"))).as("m"))
      .select(col("doc_id"), col("m.c").as("c"), col("m.score").as("score"))
    held
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("c"), lit("de")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** The classifier's raw per-(doc, class) evidence before the argmax:
    * the held-out (doc_id, lang) universe and the per-class
    * training-token-count scores (docs with zero vocabulary overlap
    * have no score rows). Shared by classifierPreds (argmax → labels)
    * and the threshold-free evals q_text_auc / q_text_calibration,
    * which need the score DISTRIBUTION, not the winner. */
  private def classifierScores(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .withColumn("bucket",
        expr(s"${md5h("CAST(doc_id AS STRING)")} % 100"))
    val toks = docs.select(col("doc_id"), col("lang"), col("bucket"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
    val model = toks.filter(col("bucket") < 80)
      .groupBy(col("w"), col("lang").as("c"))
      .agg(count(lit(1)).as("n"))
    val scores = toks.filter(col("bucket") >= 80)
      .join(broadcast(model), "w")
      .groupBy("doc_id", "c").agg(sum(col("n")).as("score"))
    (docs.filter(col("bucket") >= 80).select(col("doc_id"), col("lang")),
      scores)
  }

  /** The classifier-side CTEs of the kappa/classifier oracles, ending
    * in cls(doc_id, lang, pred_lang, score) over the held-out split. */
  private val classifierCtes = """
        cdocs AS (
          SELECT doc_id, lang, text,
                 ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 100
                   AS bucket
          FROM documents),
        ctoks AS (
          SELECT doc_id, lang, bucket,
                 unnest(list_filter(string_split(text, ' '),
                                    w -> w <> '')) AS w
          FROM cdocs),
        cmodel AS (
          SELECT w, lang AS c, count(*) AS n
          FROM ctoks WHERE bucket < 80 GROUP BY 1, 2),
        cscores AS (
          SELECT t.doc_id, m.c, CAST(sum(m.n) AS BIGINT) AS score
          FROM ctoks t JOIN cmodel m ON m.w = t.w
          WHERE t.bucket >= 80 GROUP BY 1, 2),
        cbest AS (
          SELECT doc_id, c, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, c) AS rn
          FROM cscores),
        cls AS (
          SELECT d.doc_id, d.lang,
                 coalesce(b.c, 'de') AS pred_lang,
                 coalesce(b.score, 0) AS score
          FROM cdocs d
          LEFT JOIN cbest b ON b.doc_id = d.doc_id AND b.rn = 1
          WHERE d.bucket >= 80)"""

  val queries: Map[String, GraftQuery] = Map(

    // ------------------------------------------------------- token counting
    "q_text_tokens" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
          .select(
            col("doc_id"),
            size(col("ws")).as("ws_tokens"),
            size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0)))
              .as("bpe_tokens"),
            length(col("text")).as("n_chars"),
            octet_length(col("text")).as("n_bytes"),
            round(length(col("text")).cast("double") /
              size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0))), 4)
              .as("chars_per_token"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> w <> '')) AS ws_tokens,
               len(regexp_extract_all(text, '$bpeRegex')) AS bpe_tokens,
               length(text) AS n_chars,
               octet_length(encode(text)) AS n_bytes,
               round(CAST(length(text) AS DOUBLE) /
                     len(regexp_extract_all(text, '$bpeRegex')), 4)
                 AS chars_per_token
        FROM documents ORDER BY doc_id""")),

    // ------------------------------- Tokenizer fertility audit (per lang)
    // The tokenizer-efficiency table a pretraining run is budgeted from:
    // fertility (BPE tokens per whitespace word) and bytes per token, per
    // language — the numbers that decide whether a tokenizer under-serves
    // a language (high fertility → fewer effective tokens per byte of
    // corpus budget). One narrow projection (lang + three counters per
    // doc) feeding one hash aggregate keyed by lang: partials combine
    // map-side, only |langs| rows ever shuffle, and the parquet scan
    // prunes to (lang, text). Ratios are integer fixed-point (ppm / ppk
    // via floor-div on the summed counters), so the oracle compare is an
    // exact hash match with no FP tolerance.
    "q_text_fertility" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"),
            size(filter(split(col("text"), " "), w => w =!= ""))
              .cast("long").as("ws"),
            size(regexp_extract_all(col("text"), lit(bpeRegex), lit(0)))
              .cast("long").as("bpe"),
            octet_length(col("text")).cast("long").as("b"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("ws").as("words"),
            sum("bpe").as("tokens"), sum("b").as("bytes"))
          .select(col("lang"), col("n_docs"), col("words"), col("tokens"),
            col("bytes"),
            expr("tokens * 1000000 div words").as("fertility_ppm"),
            expr("bytes * 1000 div tokens").as("bytes_per_token_ppk"))
          .orderBy("lang"),
      oracle = Some(s"""
        WITH t AS (SELECT lang,
                   len(list_filter(string_split(text, ' '), w -> w <> ''))
                     AS ws,
                   len(regexp_extract_all(text, '$bpeRegex')) AS bpe,
                   octet_length(encode(text)) AS b
                   FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS words,
               CAST(sum(bpe) AS BIGINT) AS tokens,
               CAST(sum(b) AS BIGINT) AS bytes,
               CAST(sum(bpe) * 1000000 // sum(ws) AS BIGINT)
                 AS fertility_ppm,
               CAST(sum(b) * 1000 // sum(bpe) AS BIGINT)
                 AS bytes_per_token_ppk
        FROM t GROUP BY lang ORDER BY lang""")),

    // ------------------------------------------------------ quality scoring
    "q_text_quality" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
          .withColumn("n_tokens", size(col("ws")))
          .withColumn("mean_word_len",
            expr("aggregate(ws, 0, (a, x) -> a + length(x))").cast("double") /
              col("n_tokens"))
          .withColumn("stop_ratio",
            size(filter(col("ws"),
              w => w.isin(stopEn: _*))).cast("double") / col("n_tokens"))
          .withColumn("punct_ratio",
            size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
              .cast("double") / length(col("text")))
          .withColumn("quality",
            round(
              lit(0.5) * least(lit(1.0), col("n_tokens").cast("double") / 200.0) +
                lit(0.3) * least(lit(1.0), col("stop_ratio") * 4.0) +
                lit(0.2) * (lit(1.0) - col("punct_ratio")), 4))
          .select(col("doc_id"), col("n_tokens"),
            round(col("mean_word_len"), 4).as("mean_word_len"),
            round(col("stop_ratio"), 4).as("stop_ratio"),
            round(col("punct_ratio"), 4).as("punct_ratio"), col("quality"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(ws) AS n_tokens,
                 CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                   / len(ws) AS mean_word_len,
                 CAST(len(list_filter(ws,
                     w -> list_contains([${sqlList(stopEn)}], w))) AS DOUBLE)
                   / len(ws) AS stop_ratio,
                 CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                   / length(text) AS punct_ratio
          FROM t)
        SELECT doc_id, n_tokens,
               round(mean_word_len, 4) AS mean_word_len,
               round(stop_ratio, 4) AS stop_ratio,
               round(punct_ratio, 4) AS punct_ratio,
               round(0.5 * least(1.0::DOUBLE, CAST(n_tokens AS DOUBLE) / 200.0)
                   + 0.3 * least(1.0::DOUBLE, stop_ratio * 4.0)
                   + 0.2 * (1.0 - punct_ratio), 4) AS quality
        FROM m ORDER BY doc_id""")),

    // -------------------------------------- lexical diversity (per doc)
    // The repetitiveness axis q_text_quality's surface ratios miss:
    // templated/generated text reuses a tiny vocabulary, so per-doc
    // type–token ratio, hapax fraction (words seen once), and the mass
    // of the single most frequent word are the curation signals that
    // catch it (low TTR / low hapax / high top-word ⇒ boilerplate).
    // All ratios are exact ppm integers. Scale shape: explode →
    // two-stage aggregate — (doc, word) counts reduce WITH map-side
    // combine before the per-doc rollup, so a 100 KB document costs
    // O(words) partial-agg rows, never the O(words²) a per-doc
    // array-lambda scan would (the map-side alternative is quadratic
    // in doc length and is why this one earns its shuffle).
    "q_text_lexical" -> GraftQuery(
      run = (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(filter(split(col("text"), " "), w => w =!= ""))
              .as("w"))
        words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
            max(col("c")).as("top_freq"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
            expr("n_hapax * 1000000 div n_tokens").as("hapax_ppm"),
            expr("top_freq * 1000000 div n_tokens").as("top_word_ppm"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        wc AS (SELECT doc_id, w, count(*) AS c FROM w
               WHERE w <> '' GROUP BY doc_id, w)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                    // sum(c) AS BIGINT) AS hapax_ppm,
               CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_word_ppm
        FROM wc GROUP BY doc_id ORDER BY doc_id""")),

    // --------------------------------------------------------- language ID
    // Stopword-lexicon hits per language; argmax with en > de > fr
    // tie-break. Lexicons are inline literals → fully map-side.
    "q_text_langid" -> GraftQuery(
      run = (s, d) =>
        langidPreds(s, d)
          .select(col("doc_id"), col("en_hits"), col("de_hits"), col("fr_hits"),
            col("pred_lang"),
            (col("pred_lang") === col("lang")).cast("int").as("is_match"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        h AS (
          SELECT doc_id, lang,
                 len(list_filter(ws, w -> list_contains([${sqlList(stopEn)}], w))) AS en_hits,
                 len(list_filter(ws, w -> list_contains([${sqlList(stopDe)}], w))) AS de_hits,
                 len(list_filter(ws, w -> list_contains([${sqlList(stopFr)}], w))) AS fr_hits
          FROM t)
        SELECT doc_id, en_hits, de_hits, fr_hits,
               CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS pred_lang,
               CAST(CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                         WHEN de_hits >= fr_hits THEN 'de'
                         ELSE 'fr' END = lang AS INT) AS is_match
        FROM h ORDER BY doc_id""")),

    // ------------------------ classifier evaluation (confusion matrix)
    // The eval step every learned/heuristic curation filter needs: the
    // language-ID predictions crossed against the labeled lang column —
    // per-cell counts plus precision/recall per actual class (recall
    // here; precision follows by transposing). One aggregate over the
    // prediction stream; the same shape evaluates a quality classifier
    // at 100 TB (predictions and labels shuffle as tiny counts).
    "q_text_langid_eval" -> GraftQuery(
      run = (s, d) => {
        val preds = langidPreds(s, d)
        val actualTotals = preds.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_actual"))
        preds.groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .join(broadcast(actualTotals), Seq("lang"))
          .select(col("lang"), col("pred_lang"), col("n"),
            round(col("n").cast("double") / col("n_actual"), 4)
              .as("frac_of_actual"))
          .orderBy("lang", "pred_lang")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        h AS (
          SELECT lang,
                 CASE WHEN len(list_filter(ws, w ->
                        list_contains([${sqlList(stopEn)}], w))) >=
                      len(list_filter(ws, w ->
                        list_contains([${sqlList(stopDe)}], w)))
                  AND len(list_filter(ws, w ->
                        list_contains([${sqlList(stopEn)}], w))) >=
                      len(list_filter(ws, w ->
                        list_contains([${sqlList(stopFr)}], w)))
                      THEN 'en'
                      WHEN len(list_filter(ws, w ->
                        list_contains([${sqlList(stopDe)}], w))) >=
                      len(list_filter(ws, w ->
                        list_contains([${sqlList(stopFr)}], w)))
                      THEN 'de' ELSE 'fr' END AS pred_lang
          FROM t),
        tot AS (SELECT lang, count(*) AS n_actual FROM h GROUP BY lang)
        SELECT h.lang, pred_lang, count(*) AS n,
               round(CAST(count(*) AS DOUBLE) / max(n_actual), 4)
                 AS frac_of_actual
        FROM h JOIN tot ON tot.lang = h.lang
        GROUP BY h.lang, pred_lang ORDER BY h.lang, pred_lang""")),

    // ------------------------------------- Gopher-style document filters
    // The published corpus-filter family (Gopher, Rae et al. 2021):
    // word-count bounds, mean word length, fraction of alphabetic words,
    // and the repetition signal (most frequent word's share). The pass
    // flag uses INTEGER comparisons (e.g. 5·top_cnt ≤ n_words instead of
    // top_frac ≤ 0.2) so the boundary is exact in both engines. Stats
    // are per-row array ops; only the top-word count shuffles, keyed by
    // (doc, word) — skew-free by construction.
    "q_text_gopher" -> GraftQuery(
      run = (s, d) =>
        gopherMetrics(s, d)
          .select(
            col("doc_id"), col("n_words"),
            round(col("sum_len").cast("double") / col("n_words"), 4)
              .as("mean_word_len"),
            round(col("n_alpha").cast("double") / col("n_words"), 4)
              .as("frac_alpha"),
            round(col("top_cnt").cast("double") / col("n_words"), 4)
              .as("top_word_frac"),
            gopherPasses.cast("int").as("passes"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        tops AS (
          SELECT doc_id, max(c) AS top_cnt FROM (
            SELECT doc_id, w, count(*) AS c FROM (
              SELECT doc_id, unnest(ws) AS w FROM t)
            GROUP BY doc_id, w)
          GROUP BY doc_id),
        m AS (
          SELECT doc_id, len(ws) AS n_words,
                 list_sum(list_transform(ws, x -> length(x))) AS sum_len,
                 len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha
          FROM t)
        SELECT m.doc_id, n_words,
               round(CAST(sum_len AS DOUBLE) / n_words, 4) AS mean_word_len,
               round(CAST(n_alpha AS DOUBLE) / n_words, 4) AS frac_alpha,
               round(CAST(top_cnt AS DOUBLE) / n_words, 4) AS top_word_frac,
               CAST(n_words >= 50 AND n_words <= 100000
                    AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                    AND n_alpha * 5 >= n_words * 4
                    AND top_cnt * 5 <= n_words AS INT) AS passes
        FROM m JOIN tops ON tops.doc_id = m.doc_id
        ORDER BY m.doc_id""")),

    // -------------------------------------- bigram LM quality (perplexity)
    // Two-pass corpus-trained scorer, the KenLM-filter pattern: pass 1
    // counts word bigrams over the whole corpus (the canonical
    // LM-training shuffle — partial-aggregated bigram keys); pass 2
    // scores each doc by its mean add-1-smoothed log-likelihood. Low
    // scores = surprising/garbled docs.
    "q_text_lm_score" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        // bigram extraction as a typed kernel (JIT'd flatMap) — the
        // struct-building higher-order expression runs interpreted and
        // dominated this query's profile
        val bg = Tables.documents(s, d)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, text) =>
            val ws = text.split(" ").filter(_.nonEmpty)
            (0 until ws.length - 1).iterator.map(i => (id, ws(i), ws(i + 1)))
          })
          .toDF("doc_id", "w1", "w2")
        // bg feeds the counts pass AND the scoring join, yet is not
        // persisted: the query returns a lazy plan, so nothing could
        // release a cache. Re-splitting costs ~0.1–0.2 s at sf0.1.
        val cnt2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val cnt1 = cnt2.groupBy("w1").agg(sum(col("c2")).as("c1"))
        // vocab from the (small) count table — same distinct set as bg
        val vocab = cnt2.select(col("w1").as("w"))
          .unionByName(cnt2.select(col("w2").as("w")))
          .agg(countDistinct(col("w")).as("v"))
        // Scoring join is SALTED (ScaleOps pattern): bigram frequency is
        // Zipf-skewed, so joining the instance stream on bare (w1, w2)
        // funnels every occurrence of a hot bigram through one reducer.
        // The counts collapse to one rate row per distinct bigram,
        // replicated across `salts` sub-keys; instances carry a
        // deterministic doc_id salt. Same rows out — plan-shape only.
        val salts = 16
        val rates = cnt2.join(cnt1, Seq("w1"))
          .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        bg.withColumn("salt", pmod(col("doc_id"), lit(salts)).cast("int"))
          .join(rates, Seq("w1", "w2", "salt"))
          .crossJoin(broadcast(vocab))
          .withColumn("lp",
            log((col("c2") + 1.0) / (col("c1") + col("v"))))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(col("lp")), 4).as("avg_logprob"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $lmOracleCtes
        SELECT doc_id, count(*) AS n_bigrams,
               $lmLogprobAgg AS avg_logprob
        FROM bg JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1), vocab
        GROUP BY doc_id ORDER BY doc_id""")),

    // --------------------------------- CCNet-style perplexity bucketing
    // The corpus-partitioning step downstream of the LM scorer: within
    // each language, rank documents by LM score and cut into
    // head/middle/tail terciles (CCNet keeps "head" for training,
    // inspects "tail"). Composes q_text_lm_score (resolved lazily from
    // this pack's own registry, like q_sim_recall does) — the ranking
    // orders by the ROUNDED score with a doc_id tie-break, so the
    // tercile boundaries are total-ordered and identical across engines.
    // Output is per-(lang, bucket) with min/max score bounds
    // (order-independent aggregates — no FP-summation-order hazard).
    "q_text_ccnet_buckets" -> GraftQuery(
      run = (s, d) => {
        val lm = queries("q_text_lm_score").run(s, d)
          .select(col("doc_id"), col("avg_logprob"))
        val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        lm.join(langs, "doc_id")
          .withColumn("bucket", expr(
            "ntile(3) OVER (PARTITION BY lang " +
              "ORDER BY avg_logprob DESC, doc_id)"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            min(col("avg_logprob")).as("min_lp"),
            max(col("avg_logprob")).as("max_lp"))
          .orderBy("lang", "bucket")
      },
      oracle = Some(s"""
        WITH $lmOracleCtes,
        scored AS (
          SELECT doc_id, $lmLogprobAgg AS avg_logprob
          FROM bg JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1), vocab
          GROUP BY doc_id),
        b AS (
          SELECT s.doc_id, d.lang, s.avg_logprob,
                 ntile(3) OVER (PARTITION BY d.lang
                   ORDER BY s.avg_logprob DESC, s.doc_id) AS bucket
          FROM scored s JOIN documents d USING (doc_id))
        SELECT lang, bucket, count(*) AS n_docs,
               min(avg_logprob) AS min_lp, max(avg_logprob) AS max_lp
        FROM b GROUP BY lang, bucket ORDER BY lang, bucket""")),

    // -------------------------------------------- vocabulary construction
    // Corpus-wide top-50 words with document frequency — the tokenizer-
    // training precursor. One partial-aggregated shuffle keyed by word,
    // then sort+limit (TakeOrdered — per-partition top-k merged on the
    // driver, NO single-partition window over the full vocabulary); the
    // ordinal is stamped after the limit, over 50 rows. Ties rank
    // lexicographically so the cutoff is total-ordered.
    "q_text_vocab" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
          .groupBy("w")
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("n_occurrences").desc, col("w"))
          .limit(50)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("n_occurrences").desc, col("w"))))
          .select("rank", "w", "n_occurrences", "n_docs")
          .orderBy("rank")
      },
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
          FROM documents),
        counts AS (
          SELECT w, count(*) AS n_occurrences,
                 count(DISTINCT doc_id) AS n_docs
          FROM w GROUP BY w)
        SELECT row_number() OVER (ORDER BY n_occurrences DESC, w) AS rank,
               w, n_occurrences, n_docs
        FROM counts ORDER BY n_occurrences DESC, w LIMIT 50""")),

    // ----------------------------- Zipf-law fit (corpus naturalness)
    // Natural language word frequencies follow freq ∝ rank^s with
    // s ≈ −1; synthetic, templated, or spam-flooded corpora bend the
    // line — this is the corpus-health diagnostic that catches them.
    // OLS of ln(freq) on ln(rank) over the top-200 vocabulary (the
    // Zipf head, where the law is cleanest and the rank window is a
    // constant-size tail after a TakeOrdered top-K — never a global
    // vocabulary sort): slope, intercept, Pearson r, all rounded to
    // 4 like the other FP-regression surface (q_agg_regression
    // precedent: Spark and DuckDB agree bit-wise at that grid). The
    // word-count aggregate is the same map-side-combinable pass the
    // vocab/coverage ops run; empty corpora emit zero rows (HAVING).
    "q_text_zipf" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, d)
          .select(explode(filter(split(col("text"), " "),
            w => w =!= "")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w")).limit(200)
        counts
          .withColumn("rank", row_number().over(
            Window.orderBy(col("n").desc, col("w"))))
          .select(expr("ln(CAST(rank AS DOUBLE))").as("lr"),
            expr("ln(CAST(n AS DOUBLE))").as("lf"))
          .agg(count(lit(1)).as("n_words"),
            round(expr("regr_slope(lf, lr)"), 4).as("slope"),
            round(expr("regr_intercept(lf, lr)"), 4).as("intercept"),
            round(expr("corr(lf, lr)"), 4).as("pearson_r"))
          .where(col("n_words") > 0)
      },
      oracle = Some("""
        WITH w AS (
          SELECT unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS w
          FROM documents),
        counts AS (
          SELECT w, count(*) AS n FROM w GROUP BY w
          ORDER BY n DESC, w LIMIT 200),
        r AS (
          SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, w)
                         AS DOUBLE)) AS lr,
                 ln(CAST(n AS DOUBLE)) AS lf
          FROM counts)
        SELECT count(*) AS n_words,
               round(regr_slope(lf, lr), 4) AS slope,
               round(regr_intercept(lf, lr), 4) AS intercept,
               round(corr(lf, lr), 4) AS pearson_r
        FROM r HAVING count(*) > 0""")),

    // ------------------------------- vocabulary coverage curve (OOV audit)
    // The tokenizer-design decision q_text_vocab's top-50 list doesn't
    // answer: what fraction of corpus TOKENS does a vocab of size K
    // cover (equivalently, the OOV rate a K-entry tokenizer pays)?
    // One word-count aggregate, then each cut K is a
    // TakeOrderedAndProject top-K leg (per-partition top-K merged
    // on the driver — NO global window over the vocabulary, which is
    // the anti-pattern a web-scale Zipf vocab would break) summed to
    // covered tokens. Ties rank (count desc, word) so every cut is
    // total-ordered and engine-identical; coverage is integer ppm.
    // Cuts sit at {5, 15, 30} because the synthetic corpus draws from
    // a 31-word vocabulary — on a real corpus the same legs run at
    // {1e4, 5e4, 1e5} with identical plan shape (K-bounded, not
    // vocab-bounded).
    "q_text_vocab_coverage" -> GraftQuery(
      run = (s, d) => {
        val counts = Tables.documents(s, d)
          .select(explode(filter(split(col("text"), " "), w => w =!= ""))
            .as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
          .persist()
        val totals = counts
          .agg(sum(col("c")).as("total_tokens"),
            count(lit(1)).as("distinct_words"))
        val cuts = Seq(5, 15, 30).map { k =>
          counts.orderBy(col("c").desc, col("w")).limit(k)
            .agg(coalesce(sum(col("c")), lit(0L)).as("covered_tokens"),
              count(lit(1)).as("words_used"))
            .select(lit(k.toLong).as("vocab_cut"), col("covered_tokens"),
              col("words_used"))
        }.reduce(_.unionByName(_))
        val out = cuts.crossJoin(broadcast(totals))
          .select(col("vocab_cut"), col("words_used"),
            col("distinct_words"), col("covered_tokens"),
            col("total_tokens"),
            expr("covered_tokens * 1000000 div total_tokens")
              .as("coverage_ppm"))
          .orderBy("vocab_cut")
        // materialize, then release the word-count cache (three cut
        // legs + totals read it; returning the lazy plan would pin it)
        val rows = out.collect()
        counts.unpersist()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      oracle = Some("""
        WITH w AS (
          SELECT unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS w
          FROM documents),
        counts AS (SELECT w, count(*) AS c FROM w GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
                       count(*) AS distinct_words
                FROM counts),
        rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
               FROM counts),
        cut(vocab_cut) AS (VALUES (CAST(5 AS BIGINT)), (15), (30)),
        cov AS (
          SELECT cut.vocab_cut,
                 CAST(count(*) AS BIGINT) AS words_used,
                 CAST(coalesce(sum(rk.c), 0) AS BIGINT) AS covered_tokens
          FROM cut JOIN rk ON rk.r <= cut.vocab_cut
          GROUP BY 1)
        SELECT vocab_cut, words_used, distinct_words, covered_tokens,
               total_tokens,
               covered_tokens * 1000000 // total_tokens AS coverage_ppm
        FROM cov CROSS JOIN tot
        ORDER BY vocab_cut""")),

    // --------------------------------------------------- PII redaction
    // Detect-and-redact for emails / phone numbers / IPv4s — the
    // scrubbing pass every corpus runs before training. Pure per-row
    // regex work (count + global replace) inside codegen, no shuffle.
    // The synthetic corpus contains no PII, so both engines first
    // append deterministic PII strings to a doc_id-keyed subset — the
    // detectors then have verified non-zero work on every category
    // (same precedent as the multimodal pack's synthesized bytes).
    "q_text_pii" -> GraftQuery(
      run = (s, d) => {
        val aug = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@mail.example.com"))).otherwise(""),
          when(col("doc_id") % 4 === 1,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(""),
          when(col("doc_id") % 5 === 2,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit("."),
              (col("doc_id") * 7) % 256)).otherwise(""))
        val redacted =
          regexp_replace(
            regexp_replace(
              regexp_replace(aug, emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"),
            ipRe, "<IP>")
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(regexp_extract_all(aug, lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all(aug, lit(phoneRe), lit(0))).as("n_phones"),
            size(regexp_extract_all(aug, lit(ipRe), lit(0))).as("n_ips"),
            md5(redacted).as("redacted_md5"),
            (length(aug) - length(redacted)).as("chars_removed"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH a AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' contact user' || doc_id || '@mail.example.com'
                         ELSE '' END
                 || CASE WHEN doc_id % 4 = 1
                         THEN ' call +1-555-'
                              || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                         ELSE '' END
                 || CASE WHEN doc_id % 5 = 2
                         THEN ' from 10.0.' || (doc_id % 256) || '.'
                              || ((doc_id * 7) % 256)
                         ELSE '' END AS aug
          FROM documents),
        r AS (
          SELECT doc_id, aug,
                 regexp_replace(regexp_replace(regexp_replace(aug,
                   '$emailRe', '<EMAIL>', 'g'),
                   '$phoneRe', '<PHONE>', 'g'),
                   '$ipRe', '<IP>', 'g') AS red
          FROM a)
        SELECT doc_id,
               len(regexp_extract_all(aug, '$emailRe')) AS n_emails,
               len(regexp_extract_all(aug, '$phoneRe')) AS n_phones,
               len(regexp_extract_all(aug, '$ipRe')) AS n_ips,
               md5(red) AS redacted_md5,
               length(aug) - length(red) AS chars_removed
        FROM r ORDER BY doc_id""")),

    // ------------------------------------------------ document chunking
    // Fixed-size overlapping word windows (size 32, stride 24) — the
    // training-sample / RAG-passage prep step. Chunk starts come from a
    // per-row `sequence` + `slice` (map-side explode, no shuffle); the
    // emitted chunk is its md5 so the row stays narrow no matter the
    // chunk size. At 100 TB this runs at scan speed and multiplies rows
    // by ~len/stride — the narrow output is what makes that safe.
    "q_text_chunk" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
          .withColumn("start",
            explode(sequence(lit(1), size(col("ws")), lit(24))))
          .withColumn("chunk", expr("slice(ws, start, 32)"))
          .select(col("doc_id"),
            expr("(start - 1) div 24").as("chunk_idx"),
            size(col("chunk")).as("chunk_words"),
            md5(array_join(col("chunk"), " ")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx"),
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        s AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i,
                     unnest(ws) AS w
              FROM t)
        SELECT doc_id, (i - 1) // 24 AS chunk_idx,
               len(ws[i:i+31]) AS chunk_words,
               md5(array_to_string(ws[i:i+31], ' ')) AS chunk_md5
        FROM s WHERE (i - 1) % 24 = 0
        ORDER BY doc_id, chunk_idx""")),

    // ------------------------------------------------ sequence packing
    // Concat-and-cut packing (the GPT-style training-sample layout):
    // documents concatenate in doc_id order within each source shard
    // and the stream cuts at a fixed token budget; each doc reports the
    // sequence it starts in and its offset there. The cumulative sum
    // partitions BY SOURCE — shards pack independently and in parallel
    // (the realistic layout, since packing never crosses a shard), so
    // there is no global single-partition window at any scale.
    "q_text_pack" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .withColumn("n_tokens",
            size(filter(split(col("text"), " "), x => x =!= "")))
          .withColumn("cum_before",
            coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            expr("cum_before div 256").as("seq_id"),
            expr("cum_before % 256").as("seq_offset"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, source,
                 len(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
          FROM t)
        SELECT doc_id, source, n_tokens,
               cum_before // 256 AS seq_id,
               cum_before % 256 AS seq_offset
        FROM c ORDER BY doc_id""")),

    // ------------------------------------------------ document fingerprinting
    // Rolling polynomial hash over word-hash 3-grams (winnowing-style).
    "q_text_fingerprint" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("ws", split(col("text"), " "))
          .withColumn("hs", expr(s"transform(ws, w -> ${md5h("w")})"))
          .withColumn("rs",
            when(size(col("ws")) >= 3,
              expr("transform(sequence(0, size(hs)-3), " +
                "i -> (hs[i]*961 + hs[i+1]*31 + hs[i+2]) % 1000000007)"))
              .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")))
          .select(col("doc_id"),
            array_min(col("rs")).as("fingerprint"),
            size(col("rs")).as("n_windows"),
            size(array_distinct(col("rs"))).as("n_distinct"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        WITH w AS (
          SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h, i FROM (
            SELECT doc_id, unnest(string_split(text,' ')) AS w,
                   generate_subscripts(string_split(text,' '),1) AS i
            FROM documents)),
        r AS (
          SELECT doc_id,
                 (h*961 + lead(h,1) OVER win*31 + lead(h,2) OVER win)
                   % 1000000007 AS rh
          FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i))
        SELECT doc_id, min(rh) AS fingerprint,
               count(rh) AS n_windows,
               count(DISTINCT rh) AS n_distinct
        FROM r GROUP BY doc_id ORDER BY doc_id""")),

    // ---------------------------------------------- corpus curation funnel
    // The production curation pipeline as ONE declarative plan: MinHash
    // near-dup removal (first doc per LSH band key wins — the corpus has
    // no EXACT dups, so the near-dup pass is the one that bites) →
    // Gopher quality gate → deterministic train/val/test split,
    // reporting docs and tokens retained at every stage. Each stage
    // composes already-oracled operators (band kernel shared with
    // q_dedup_minhash_lsh, gopherMetrics, md5-bucket split), so the
    // funnel is itself hash-checkable. Scale shape: ONE pass — each doc
    // is tagged with its deepest surviving stage (0 = dropped at
    // near-dup, 1 = dropped at quality, 2 = survived, with its split),
    // one (level, split) aggregate yields a ≤5-row summary, and the
    // cumulative funnel rows assemble from that summary driver-side
    // (histogram-edge-sized, not data-sized). No per-stage lineage
    // rescans; signatures map-side; only (band, key) rows shuffle.
    "q_text_curation_funnel" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val m = gopherMetrics(s, d)
        val bands = Dedup.minhashBandRows(Dedup.shingleSetsCached(s, d))
          .toDF("doc_id", "band", "key")
        val gm = bands.groupBy("band", "key")
          .agg(min(col("doc_id")).as("m"))
        val flagged = bands.join(gm, Seq("band", "key"))
          .filter(col("doc_id") > col("m"))
          .select("doc_id").distinct()
          .withColumn("dup", lit(1))
        val per = m.join(flagged, Seq("doc_id"), "left")
          .withColumn("level",
            when(col("dup") === 1, 0)
              .when(gopherPasses, 2).otherwise(1))
          .withColumn("split",
            when(col("level") === 2,
              when(expr(s"${md5h("CAST(doc_id AS STRING)")} % 100") < 80,
                "train")
                .when(expr(s"${md5h("CAST(doc_id AS STRING)")} % 100") < 90,
                  "val")
                .otherwise("test")))
          .groupBy("level", "split")
          .agg(count(lit(1)).as("n"), sum(col("n_words")).as("tok"))
          .collect()
          .map(r => (r.getInt(0), Option(r.getString(1)),
            r.getLong(2), r.getLong(3)))
        def cum(minLevel: Int): (Long, Long) = {
          val keep = per.filter(_._1 >= minLevel)
          (keep.map(_._3).sum, keep.map(_._4).sum)
        }
        val stages =
          Seq("0_all" -> cum(0), "1_neardup" -> cum(1),
            "2_quality" -> cum(2)) ++
          per.collect { case (2, Some(sp), n, tok) =>
            s"3_$sp" -> (n, tok)
          }
        stages.map { case (st, (n, tok)) => (st, n, tok) }
          .toDF("stage", "n_docs", "n_tokens")
          .orderBy("stage")
      },
      oracle = Some(s"""
        WITH ${Dedup.docShinglesCte},
        ${Dedup.minhashBandsCte},
        gm AS (SELECT band, key, min(doc_id) AS m FROM bands
               GROUP BY 1, 2),
        flagged AS (
          SELECT DISTINCT b.doc_id AS doc_id
          FROM bands b JOIN gm g ON g.band = b.band AND g.key = b.key
          WHERE b.doc_id > g.m),
        t AS (
          SELECT doc_id, text,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        tops AS (
          SELECT doc_id, max(c) AS top_cnt FROM (
            SELECT doc_id, w, count(*) AS c FROM (
              SELECT doc_id, unnest(ws) AS w FROM t)
            GROUP BY doc_id, w)
          GROUP BY doc_id),
        m AS (
          SELECT t.doc_id AS doc_id, text, len(ws) AS n_words,
                 list_sum(list_transform(ws, x -> length(x))) AS sum_len,
                 len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
                 top_cnt
          FROM t JOIN tops ON tops.doc_id = t.doc_id),
        ded AS (
          SELECT * FROM m
          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        q AS (
          SELECT doc_id, n_words FROM ded
          WHERE n_words >= 50 AND n_words <= 100000
            AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
            AND n_alpha * 5 >= n_words * 4 AND top_cnt * 5 <= n_words),
        sp AS (
          SELECT doc_id, n_words,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, n_words,
                       ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 100
                         AS b
                FROM q))
        SELECT stage, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens FROM (
          SELECT '0_all' AS stage, count(*) AS n_docs,
                 coalesce(sum(n_words), 0) AS n_tokens FROM m
          UNION ALL
          SELECT '1_neardup', count(*), coalesce(sum(n_words), 0) FROM ded
          UNION ALL
          SELECT '2_quality', count(*), coalesce(sum(n_words), 0) FROM q
          UNION ALL
          SELECT '3_' || split, count(*), coalesce(sum(n_words), 0)
          FROM sp GROUP BY split)
        ORDER BY stage""")),

    // ------------------------------------- DSIR importance weighting
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every document by how much more likely its hashed-unigram features
    // are under a target distribution (here: the English subcorpus) than
    // under the raw corpus. Two aggregation passes over the token
    // stream — bucket counts (1024 hashed buckets, the paper's
    // hashed-n-gram trick bounding model size regardless of corpus
    // size) then a broadcast join of the per-bucket log-ratio back onto
    // the stream. Only counts shuffle; at 100 TB the bucket table is
    // 1024 rows whatever the corpus is, and per-doc scoring is
    // map-side. Mean (not sum) log-ratio so the score is
    // length-normalized; round(·,4) absorbs float summation order (the
    // ln inputs are identical exact rationals in both engines).
    "q_text_dsir" -> GraftQuery(
      run = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
          .withColumn("b", expr(s"${md5h("w")} % 1024"))
        val tot = toks.agg(
          count(lit(1)).as("nr"),
          count(when(col("lang") === "en", lit(1))).as("nt"))
        val cr = toks.groupBy("b").agg(count(lit(1)).as("cr"))
        val ct = toks.filter(col("lang") === "en")
          .groupBy("b").agg(count(lit(1)).as("ct"))
        val lr = cr.join(ct, Seq("b"), "left").crossJoin(broadcast(tot))
          .select(col("b"),
            (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
              (col("nt") + lit(1024.0))) -
              log((col("cr") + lit(1.0)) / (col("nr") + lit(1024.0))))
              .as("lr"))
        toks.join(broadcast(lr), Seq("b"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(avg(col("lr")), 4).as("dsir_score"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang,
                 unnest(list_filter(string_split(text, ' '), w -> w <> ''))
                   AS w
          FROM documents),
        tb AS (SELECT doc_id, lang,
                      ('0x'||substr(md5(w),1,8))::BIGINT % 1024 AS b
               FROM t),
        tot AS (SELECT count(*) AS nr,
                       count(*) FILTER (WHERE lang = 'en') AS nt FROM tb),
        cr AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
        ct AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en'
               GROUP BY b),
        lr AS (SELECT cr.b,
                      ln((coalesce(ct.ct, 0) + 1.0) / (nt + 1024.0)) -
                      ln((cr.cr + 1.0) / (nr + 1024.0)) AS lr
               FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot)
        SELECT doc_id, count(*) AS n_tokens,
               round(avg(lr.lr), 4) AS dsir_score
        FROM tb JOIN lr ON lr.b = tb.b
        GROUP BY doc_id ORDER BY doc_id""")),

    // ----------------------------- Gopher repetition signals (Rae et al.
    // 2021 §A1.1): fraction of n-gram occurrences that are duplicates
    // and the share taken by the single most frequent n-gram, n ∈ {2,3}.
    // High values mark boilerplate/spam for removal. One (doc, gram)
    // count aggregate per n — counts shuffle, text doesn't; ratios are
    // exact-integer until the final rounded division.
    "q_text_repetition" -> GraftQuery(
      run = (s, d) => {
        def grams(n: Int) = {
          val idx = (0 until n)
            .map(k => s"ws[i+$k]").mkString("concat_ws(' ', ", ", ", ")")
          Tables.documents(s, d)
            .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
            .filter(size(col("ws")) >= n)
            .select(col("doc_id"),
              explode(expr(s"transform(sequence(0, size(ws)-$n), i -> $idx)"))
                .as("g"))
            .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
            .groupBy("doc_id")
            .agg(sum(col("c")).as(s"n${n}_total"),
              sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
                .as(s"dup$n"),
              max(col("c")).as(s"top$n"))
            .select(col("doc_id"), col(s"n${n}_total"),
              round(col(s"dup$n").cast("double") / col(s"n${n}_total"), 4)
                .as(s"dup${n}_frac"),
              round(col(s"top$n").cast("double") / col(s"n${n}_total"), 4)
                .as(s"top${n}_frac"))
        }
        grams(2).join(grams(3), Seq("doc_id")).orderBy("doc_id")
      },
      oracle = Some {
        def cte(n: Int) = {
          val idx = (1 to n - 1)
            .map(k => s"lead(w, $k) OVER win").mkString(" || ' ' || ")
          s"""
        g$n AS (
          SELECT doc_id, w || ' ' || $idx AS g
          FROM (SELECT doc_id, unnest(ws) AS w,
                       generate_subscripts(ws, 1) AS i
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '),
                                         w -> w <> '') AS ws
                      FROM documents))
          WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n
                WHERE g IS NOT NULL GROUP BY doc_id, g),
        r$n AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n${n}_total,
                 round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                       / sum(c), 4) AS dup${n}_frac,
                 round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top${n}_frac
          FROM c$n GROUP BY doc_id)"""
        }
        s"""
        WITH ${cte(2)}, ${cte(3)}
        SELECT r2.doc_id, n2_total, dup2_frac, top2_frac,
               n3_total, dup3_frac, top3_frac
        FROM r2 JOIN r3 ON r3.doc_id = r2.doc_id
        ORDER BY r2.doc_id"""
      }),

    // ------------------------------------------- TF-IDF keyword extraction
    // Top-3 characteristic terms per document — the classic inverted-index
    // keyword ranking (and the lexical half of hybrid BM25+vector
    // retrieval). The idf is kept on an exact integer grid so the ranking
    // is hash-comparable: idf_scaled = (1e6 · N) div df (integer floor
    // division in both engines), score = tf · idf_scaled — all 64-bit
    // integers, no log/double in the compare path.
    // Scale shape: tf is a (doc, term) aggregation, df a term aggregation;
    // the tf ⋈ df equi-join shuffles on the term key. Zipf-hot terms (high
    // df) are exactly the ones with the lowest idf — they never reach a
    // top-3 — but they still dominate the join input; at 100 TB the
    // mitigation is the ScaleOps salted-join pattern on the df side, or
    // an early df-threshold stoplist if the corpus profile allows it.
    "q_text_tfidf" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val words = docs.select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
        val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val df = words.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(df, "w").crossJoin(broadcast(n))
          .withColumn("score", col("tf") * expr("(1000000L * n_docs) div df"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("score").desc, col("w"))))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("w"), col("tf"),
            col("df"), col("score"))
          .orderBy("doc_id", "rank")
      },
      oracle = Some("""
        WITH words AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
        df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.w, tf.tf, df.df,
                 tf.tf * ((1000000 * n_docs) // df.df) AS score
          FROM tf JOIN df ON df.w = tf.w CROSS JOIN n)
        SELECT doc_id, rank, w, tf, df, score FROM (
          SELECT doc_id, w, tf, df, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, w) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // ----------------------------------------------- BM25 ranked retrieval
    // Full BM25 over a 3-term query ("spark join hash") — the lexical
    // ranking standard TF-IDF approximates: saturating tf with document-
    // length normalization, k1 = 1.2 and b = 0.75 carried in milli-units
    // so every step is integer `div` and the ranking hash-compares
    // exactly. The idf sits on the same (1e6·N) div df grid as
    // q_text_tfidf (a monotone surrogate for log-idf — rank-preserving
    // for any single-term contribution, and documented as the engine's
    // deterministic-idf convention). Per-term scores are integers, so
    // the final per-doc sum is order-free.
    // Scale shape: the 3 query terms broadcast as an isin filter BEFORE
    // any shuffle, so tf aggregates only matching (doc, term) pairs;
    // doc length is a map-side-combinable count; N and avgdl are one
    // broadcast row. At 100 TB the corpus scan streams map-side and the
    // shuffles carry only matched postings and (doc, len) pairs.
    "q_text_bm25" -> GraftQuery(
      run = (s, d) => bm25Top10(s, d),
      oracle = Some("""
        WITH words AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
        posts AS (SELECT doc_id, w FROM words
                  WHERE w IN ('spark', 'join', 'hash')),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM posts GROUP BY 1, 2),
        df AS (SELECT w, count(DISTINCT doc_id) AS df FROM posts GROUP BY 1),
        stats AS (SELECT count(*) AS n_docs,
                         (1000 * sum(dl)) // count(*) AS avgdl_milli
                  FROM dl),
        scored AS (
          SELECT tf.doc_id,
                 ((1000000 * n_docs) // df.df) *
                 ((tf.tf * 2200 * 1000000) //
                  (tf.tf * 1000 +
                   (1200 * (250 + (750 * ((dl.dl * 1000000) // avgdl_milli))
                            // 1000)) // 1000)) // 1000000 AS term_score
          FROM tf JOIN df ON df.w = tf.w
                  JOIN dl ON dl.doc_id = tf.doc_id
                  CROSS JOIN stats)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(term_score) AS BIGINT) AS bm25_micro
        FROM scored GROUP BY doc_id
        ORDER BY bm25_micro DESC, doc_id LIMIT 10""")),

    // ------------------------------------ BPE merge training (rows-only)
    // 8 learned merges over the corpus vocabulary — see [[BpeTrainer]];
    // sequentially-greedy, so no SQL oracle (golden spec instead).
    "q_text_bpe_train" -> GraftQuery(
      run = (s, d) => {
        val m = BpeTrainer.trainCached(s, d, Tables.documents(s, d), BpeK)
        s.createDataFrame(m).orderBy("merge_rank")
      },
      // ORACLED (was rows-only): the 8-stage windowed unroll — see
      // bpeStage's overlap argument for why each greedy apply step is
      // relational
      oracle = Some(bpeTrainOracle)),

    // ------------------------- BPE encoding with the learned merges
    // train → collect the k-row merge table → apply map-side across
    // the corpus; reports per-document compression. ORACLED: the
    // oracle re-learns the merges with the same 8-stage unroll, counts
    // final tokens per VOCAB word, and joins back to per-doc word
    // occurrences (compression re-rounded half-even on both engines).
    "q_text_bpe_encode" -> GraftQuery(
      run = (s, d) => {
        val merges = BpeTrainer.trainCached(s, d, Tables.documents(s, d), BpeK)
          .map(m => (m.left, m.right))
        BpeTrainer.encode(s, Tables.documents(s, d), merges)
      },
      oracle = Some(bpeEncodeOracle)),

    // --------------------- unigram-LM tokenizer training (prune rounds)
    // The OTHER tokenizer family (SentencePiece-style): seed with all
    // frequent substrings, then hard-EM rounds of Viterbi segmentation
    // + usage refit + relative-floor pruning — see [[UnigramTrainer]].
    // Fully hash-checked: the whole train unrolls into the generated
    // DP oracle above.
    "q_text_unigram_train" -> GraftQuery(
      run = (s, d) => {
        val v = UnigramTrainer.trainCached(s, d, Tables.documents(s, d))
        import s.implicits._
        v.toDF("piece", "piece_len", "freq")
          .orderBy(col("freq").desc, col("piece"))
      },
      oracle = Some(uniTrainOracle)),

    // -------------------- unigram encoding with the trained vocabulary
    // Same per-document output contract as q_text_bpe_encode so the two
    // tokenizers' compression is directly comparable row by row.
    "q_text_unigram_encode" -> GraftQuery(
      run = (s, d) => UnigramTrainer.encode(s, Tables.documents(s, d),
        UnigramTrainer.trainCached(s, d, Tables.documents(s, d))),
      oracle = Some(uniEncodeOracle)),

    // ------------------------- tokenizer comparison (fertility table)
    // BPE vs unigram on the SAME corpus: fertility (tokens per word)
    // and chars per token, in milli-units — the table a tokenizer
    // choice is budgeted from. Both token counts are per-VOCAB-word
    // (each tokenizer's per-word token count times corpus occurrence),
    // so the comparison costs two broadcast-encode passes over the
    // Zipf-bounded word table, never the corpus.
    "q_text_tokenizer_cmp" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val merges = BpeTrainer.trainCached(s, d, docs, BpeK)
          .map(m => (m.left, m.right))
        val vocab = UnigramTrainer.trainCached(s, d, docs)
          .map(p => p.piece -> p.freq).toMap
        val mergesBc = s.sparkContext.broadcast(merges)
        val vocabBc = s.sparkContext.broadcast(vocab)
        val sums = UnigramTrainer.wordTable(s, docs).as[(String, Long)]
          .map { case (w, f) =>
            var sym = w.map(_.toString).toArray
            mergesBc.value.foreach { case (l, r) =>
              sym = BpeTrainer.mergeSeq(sym, l, r)
            }
            val uni = UnigramTrainer.viterbi(w, vocabBc.value).length
            (f, f * w.length, f * sym.length, f * uni.toLong)
          }
          .toDF("words", "chars", "bpe_tokens", "uni_tokens")
          .agg(sum("words").as("w"), sum("chars").as("c"),
            sum("bpe_tokens").as("b"), sum("uni_tokens").as("u"))
          .head()
        val rows =
          if (sums.isNullAt(0) || sums.getLong(0) == 0L) Seq.empty
          else {
            val (w, c, b, u) = (sums.getLong(0), sums.getLong(1),
              sums.getLong(2), sums.getLong(3))
            Seq(("bpe", w, b, b * 1000 / w, c * 1000 / b),
              ("unigram", w, u, u * 1000 / w, c * 1000 / u))
              .filter(r => r._3 > 0)
          }
        rows.toDF("tokenizer", "total_words", "total_tokens",
          "fertility_milli", "chars_per_token_milli")
          .orderBy("tokenizer")
      },
      oracle = Some(uniCmpOracle)),

    // --------------------------------------- content-defined chunking
    // Rabin-style content-defined chunk boundaries (the storage-dedup /
    // incremental-sync primitive: boundaries move WITH the content, so
    // an insertion only re-chunks its neighborhood): a 4-byte rolling
    // hash over the character stream cuts where hash % 64 == 0, and the
    // query reports per-document chunk statistics. Everything runs
    // inside higher-order array functions ON THE ROW — per-character
    // data never leaves the map side, only (doc, 4-int stats) rows
    // shuffle, which is what lets this chunk a 100 TB corpus. The
    // oracle states the same boundaries relationally (explode + window)
    // — fine for DuckDB, the wrong shape for a cluster.
    "q_text_cdc" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("cs", expr("transform(split(text, ''), c -> ascii(c))"))
          .withColumn("n", size(col("cs")))
          // boundary AFTER 0-based position i (i ≥ 3) when the 4-gram
          // rolling hash a[i-3]·31³ + a[i-2]·31² + a[i-1]·31 + a[i]
          // lands on the cut grid; the document end is always an end
          .withColumn("ends",
            expr("""array_distinct(concat(
                      filter(transform(sequence(3, n - 1),
                        i -> CASE WHEN (element_at(cs, i - 2) * 29791 +
                                        element_at(cs, i - 1) * 961 +
                                        element_at(cs, i) * 31 +
                                        element_at(cs, i + 1)) % 64 = 0
                                  THEN i END),
                        x -> x IS NOT NULL),
                      array(n - 1)))"""))
          .withColumn("lens",
            expr("""transform(sequence(0, size(ends) - 1),
                      k -> CASE WHEN k = 0 THEN element_at(ends, 1) + 1
                           ELSE element_at(ends, k + 1) -
                                element_at(ends, k) END)"""))
          .select(col("doc_id"), col("n").as("n_chars"),
            size(col("ends")).as("n_chunks"),
            expr("CAST(array_min(lens) AS BIGINT)").as("min_len"),
            expr("CAST(array_max(lens) AS BIGINT)").as("max_len"),
            expr("(CAST(n AS BIGINT) * 1000) div size(ends)")
              .as("mean_len_milli"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH ch AS (
          SELECT doc_id, length(text) AS n, p.i,
                 ascii(substr(text, p.i, 1)) AS a
          FROM documents,
               LATERAL (SELECT unnest(generate_series(1, length(text)))
                          AS i) p),
        r AS (SELECT doc_id, n, i, a,
                     lag(a, 3) OVER w * 29791 + lag(a, 2) OVER w * 961 +
                     lag(a, 1) OVER w * 31 + a AS h
              FROM ch
              WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        ends AS (SELECT DISTINCT doc_id, n, i FROM r
                 WHERE (i >= 4 AND h % 64 = 0) OR i = n),
        lens AS (SELECT doc_id, n,
                        i - coalesce(lag(i) OVER (PARTITION BY doc_id
                                                  ORDER BY i), 0) AS len
                 FROM ends)
        SELECT doc_id, CAST(max(n) AS INTEGER) AS n_chars,
               CAST(count(*) AS INTEGER) AS n_chunks,
               CAST(min(len) AS BIGINT) AS min_len,
               CAST(max(len) AS BIGINT) AS max_len,
               CAST((max(n) * 1000) // count(*) AS BIGINT)
                 AS mean_len_milli
        FROM lens GROUP BY doc_id
        ORDER BY doc_id""")),

    // ------------------------------------ URL canonicalization + dedup
    // The first dedup pass every web-crawl pipeline runs: collapse
    // re-crawls of the SAME page before any content hashing. The messy
    // URL is synthesized deterministically per doc (scheme-case drift,
    // optional www., tracking params, trailing slash — the classic
    // variants; the path identifies the page by its lead-64-chars
    // digest, stable across re-crawls whose TAILS drift — the corpus'
    // shared-prefix near-dup docs are exactly such re-crawls), then
    // canonicalized by a regexp_replace chain:
    // lowercase → strip scheme → strip www. → strip utm_* suffix →
    // strip trailing slash. Dedup is a groupBy on the canonical key
    // keeping min(doc_id) — entirely map-side string work plus one
    // aggregate on the canonical hash; no content bytes shuffle.
    "q_text_url_dedup" -> GraftQuery(
      run = (s, d) => {
        val url = expr("""concat(
            CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
                 ELSE 'HTTPS://' END,
            CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END,
            'example.com/', substr(md5(substr(text, 1, 64)), 1, 12),
            CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
            CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed' ELSE '' END)""")
        urlDedupGroups(
          Tables.documents(s, d).select(col("doc_id"), url.as("url")))
          .orderBy("canon")
      },
      oracle = Some("""
        WITH u AS (
          SELECT doc_id,
                 (CASE doc_id % 3 WHEN 0 THEN 'http://'
                       WHEN 1 THEN 'https://' ELSE 'HTTPS://' END)
                 || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
                 || 'example.com/' || substr(md5(substr(text, 1, 64)), 1, 12)
                 || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                 || (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed'
                          ELSE '' END) AS url
          FROM documents),
        c AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '^https?://', ''),
                       '^www\.', ''),
                     '\?utm_[a-z_]+=[^&]*$', ''),
                   '/$', '') AS canon
          FROM u)
        SELECT canon, count(*) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS keep_doc
        FROM c GROUP BY canon HAVING count(*) >= 2
        ORDER BY canon""")),

    // ----------------------------- per-domain quality caps (two-phase)
    // RefinedWeb-style domain balancing: no single domain may
    // contribute more than CAP documents (CAP = 10 so the ceiling
    // actually binds on the 25-doc synthetic domains), and the CAP
    // survivors are the best by quality (n_chars, tie doc_id). The naive
    // plan — row_number() PARTITION BY source — sends every row of a
    // hot domain to ONE reducer. This is the exact two-phase top-K
    // shape instead: phase 1 ranks within (source, salt) and keeps at
    // most CAP per salted group (each reducer sorts 1/16th of a
    // domain), phase 2 ranks the ≤ 16·CAP survivors per domain — a
    // bounded sort regardless of domain size. Identical results to the
    // naive plan, which is what the oracle runs.
    "q_text_domain_caps" -> GraftQuery(
      run = (s, d) => {
        val cap = 10
        val salts = 16
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val kept = domainCapKept(docs, cap, salts)
        docs.groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            sum(col("n_chars")).as("chars_total"))
          .join(kept.groupBy("source")
            .agg(count(lit(1)).as("n_kept"),
              sum(col("n_chars")).as("chars_kept"),
              min(col("n_chars")).as("min_kept_chars")),
            Seq("source"))
          .select(col("source"), col("n_total"), col("n_kept"),
            (col("n_total") - col("n_kept")).as("n_dropped"),
            col("chars_kept"), col("min_kept_chars"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH r AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents),
        k AS (SELECT source, count(*) AS n_kept,
                     CAST(sum(n_chars) AS BIGINT) AS chars_kept,
                     CAST(min(n_chars) AS BIGINT) AS min_kept_chars
              FROM r WHERE rk <= 10 GROUP BY source),
        t AS (SELECT source, count(*) AS n_total FROM documents
              GROUP BY source)
        SELECT t.source, t.n_total, k.n_kept,
               t.n_total - k.n_kept AS n_dropped,
               k.chars_kept, k.min_kept_chars
        FROM t JOIN k ON k.source = t.source
        ORDER BY t.source""")),

    // ------------------------------- n-gram novelty (first occurrence)
    // A diversity/curation signal: what fraction of a document's word
    // trigrams has never been seen in any EARLIER document (doc_id as
    // ingestion order)? First-occurrence attribution is min(doc_id) per
    // gram — one aggregate, no pairwise work, and the group key is a
    // 60-bit md5-derived digest so the shuffle carries 8-byte keys,
    // never gram strings (the same digests-not-bodies rule
    // ShuffleVolumeSpec enforces for the dedup pack). Skew is
    // self-limiting: the hotter a gram, the more rows collapse into
    // one (digest, min) pair map-side. Digest production runs in a
    // typed kernel (JIT'd loop, one MessageDigest per partition) —
    // higher-order-function expressions are interpreted per-row, the
    // same reason the MinHash kernel is typed; the value is identical
    // to conv(substr(md5(gram), 1, 15), 16, 10): the first 15 hex
    // nibbles = the big-endian first 8 digest bytes >>> 4.
    "q_text_novelty" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        noveltyFromGrams(gramDigests(
          Tables.documents(s, d)
            .select(col("doc_id"), col("text")).as[(Long, String)]))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '),
                                     w -> w <> '') AS ws
          FROM documents),
        tg AS (
          SELECT DISTINCT doc_id,
                 ('0x' || substr(md5(ws[t.i] || ' ' || ws[t.i+1] || ' '
                                 || ws[t.i+2]), 1, 15))::BIGINT AS g
          FROM toks,
               LATERAL (SELECT unnest(generate_series(1, len(ws) - 2))
                          AS i) t
          WHERE len(ws) >= 3),
        fo AS (SELECT g, min(doc_id) AS first_doc FROM tg GROUP BY g)
        SELECT tg.doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN fo.first_doc = tg.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN fo.first_doc = tg.doc_id
                             THEN 1 ELSE 0 END) * 1000000 // count(*)
                    AS BIGINT) AS novelty_ppm
        FROM tg JOIN fo ON fo.g = tg.g
        GROUP BY tg.doc_id
        ORDER BY tg.doc_id""")),

    // -------------------- trained count-based classifier (train → apply)
    // The fastText-shaped curation classifier as a DataFrame pipeline:
    // an 80/20 hash split (same md5 bucketing as q_dedup_hash_split)
    // yields a train fold whose per-(word, lang) occurrence counts ARE
    // the model — a plain DataFrame, no driver-side state. Scoring is
    // model application by join: each held-out token occurrence joins
    // the broadcast model and score(doc, c) = Σ_w tf(doc, w)·n(w, c),
    // i.e. multinomial NB with unnormalized integer class-conditional
    // counts (priors and smoothing drop out of the argmax on this
    // balanced grid). Argmax picks by (score DESC, lang ASC) so ties
    // are deterministic; a held-out doc with zero vocabulary overlap
    // falls back to the alphabetically-first class with score 0.
    // Scale shape: the model is vocabulary-sized (Zipf-bounded, ~1e6
    // rows at 100 TB) and broadcasts; the corpus never shuffles —
    // tokens are scored map-side and reduce straight into the per-doc
    // partial aggregate. Evaluation (is_match) composes with the
    // confusion-matrix shape of q_text_langid_eval.
    "q_text_classifier" -> GraftQuery(
      run = (s, d) =>
        classifierPreds(s, d)
          .select(col("doc_id"), col("pred_lang"), col("score"),
            (col("pred_lang") === col("lang")).cast("int").as("is_match"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        WITH $classifierCtes
        SELECT doc_id, pred_lang, score,
               CAST(pred_lang = lang AS INT) AS is_match
        FROM cls ORDER BY doc_id""")),

    // ----------------- inter-annotator agreement (Cohen's kappa)
    // The two independent labelers this engine already carries — the
    // stopword heuristic and the held-out word-count classifier —
    // crossed on the held-out split: observed agreement vs the
    // chance agreement their marginals predict, i.e. Cohen's κ. The
    // eval-methodology primitive for any labeling stage: raw accuracy
    // flatters a skewed label distribution, κ does not. All integer:
    // p_o and p_e in exact ppm (marginal products summed BEFORE one
    // division), κ in ppm with an explicit sign split so both engines
    // floor-divide positive operands only. One tiny contingency
    // aggregate; the labelers themselves are the map-side passes their
    // own queries already run.
    "q_text_kappa" -> GraftQuery(
      run = (s, d) => {
        val a = langidPreds(s, d)
          .select(col("doc_id"), col("pred_lang").as("la"))
        val b = classifierPreds(s, d)
          .select(col("doc_id"), col("pred_lang").as("lb"))
        val both = a.join(b, "doc_id")
        val cells = both.groupBy("la", "lb").agg(count(lit(1)).as("n"))
          .persist()
        val n = cells.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
        val out =
          if (n == 0L) Seq.empty[(Long, Long, Long, Long, Long)]
          else {
            val agree = cells.filter(col("la") === col("lb"))
              .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
            val ra = cells.groupBy("la").agg(sum(col("n")).as("m"))
            val rb = cells.groupBy("lb").agg(sum(col("n")).as("m"))
            val chance = ra.join(rb, ra("la") === rb("lb"))
              .agg(coalesce(sum(ra("m") * rb("m")), lit(0L)))
              .head().getLong(0)
            val poPpm = agree * 1000000L / n
            val pePpm = chance * 1000000L / (n * n)
            val kappaPpm =
              // pe = 1 ⇒ κ is 0/0: report perfect agreement as 1e6,
              // anything less as 0 (cannot beat fully-predictable
              // chance) — stated convention, mirrored in the oracle
              if (pePpm >= 1000000L) { if (poPpm >= 1000000L) 1000000L else 0L }
              else if (poPpm >= pePpm)
                (poPpm - pePpm) * 1000000L / (1000000L - pePpm)
              else -((pePpm - poPpm) * 1000000L / (1000000L - pePpm))
            Seq((n, agree, poPpm, pePpm, kappaPpm))
          }
        cells.unpersist()
        import s.implicits._
        out.toDF("n_docs", "n_agree", "po_ppm", "pe_ppm", "kappa_ppm")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS ws
          FROM documents),
        h AS (
          SELECT doc_id,
                 len(list_filter(ws, w -> list_contains([${sqlList(stopEn)}], w))) AS en_hits,
                 len(list_filter(ws, w -> list_contains([${sqlList(stopDe)}], w))) AS de_hits,
                 len(list_filter(ws, w -> list_contains([${sqlList(stopFr)}], w))) AS fr_hits
          FROM t),
        lid AS (
          SELECT doc_id,
                 CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                      WHEN de_hits >= fr_hits THEN 'de'
                      ELSE 'fr' END AS la
          FROM h),
        $classifierCtes,
        cells AS (
          SELECT lid.la, cls.pred_lang AS lb, count(*) AS n
          FROM lid JOIN cls ON cls.doc_id = lid.doc_id
          GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells),
        agr AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS agree
                FROM cells WHERE la = lb),
        ra AS (SELECT la, sum(n) AS m FROM cells GROUP BY la),
        rb AS (SELECT lb, sum(n) AS m FROM cells GROUP BY lb),
        ch AS (SELECT CAST(coalesce(sum(ra.m * rb.m), 0) AS BIGINT) AS chance
               FROM ra JOIN rb ON rb.lb = ra.la),
        p AS (SELECT n, agree,
                     agree * 1000000 // n AS po_ppm,
                     chance * 1000000 // (n * n) AS pe_ppm
              FROM tot, agr, ch WHERE n > 0)
        SELECT n AS n_docs, agree AS n_agree, po_ppm, pe_ppm,
               CAST(CASE WHEN pe_ppm >= 1000000
                           THEN CASE WHEN po_ppm >= 1000000 THEN 1000000
                                     ELSE 0 END
                         WHEN po_ppm >= pe_ppm
                           THEN (po_ppm - pe_ppm) * 1000000
                                // (1000000 - pe_ppm)
                         ELSE -((pe_ppm - po_ppm) * 1000000
                                // (1000000 - pe_ppm))
                    END AS BIGINT) AS kappa_ppm
        FROM p""")),

    // ------------------------- ROC-AUC (threshold-free classifier eval)
    // One-vs-rest AUC for the held-out classifier on the 'en' class —
    // the ranking-quality number a quality-filter threshold sweep
    // starts from. The ranking score is the length-invariant evidence
    // SHARE p = en_score·1000 // total_score (raw match counts track
    // document length, not class membership — measured: raw-count AUC
    // is a coin-flip 0.499 on this corpus, the share separates).
    // Computed as the Mann-Whitney rank-sum with exact midrank tie
    // handling, kept integral by working in DOUBLED midranks: for a
    // score with t ties and `below` strictly-smaller rows,
    // 2·midrank = 2·below + t + 1, so
    // AUC = (Σ_pos 2·midrank − npos·(npos+1)) / (2·npos·nneg) in exact
    // ppm (numerator ≥ 0, so trunc == floor on both engines). Scale
    // shape: scores reduce map-side into the per-doc aggregate the
    // classifier already runs; the rank window runs over the
    // DISTINCT-SCORE table (≤ 1001 ppk values at any corpus size),
    // never over docs. A degenerate eval set (no positives or no
    // negatives) reports 0.
    "q_text_auc" -> GraftQuery(
      run = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (held, scores) = classifierScores(s, d)
        val tot = scores.groupBy("doc_id").agg(sum("score").as("stot"))
        val en = held
          .join(scores.filter(col("c") === "en")
            .select(col("doc_id"), col("score").as("sen")),
            Seq("doc_id"), "left")
          .join(tot, Seq("doc_id"), "left")
          .select((col("lang") === "en").cast("long").as("y"),
            when(coalesce(col("stot"), lit(0L)) === 0, lit(0L))
              .otherwise(expr(
                "coalesce(sen, CAST(0 AS BIGINT)) * 1000 div stot"))
              .as("score"))
        val g = en.groupBy("score")
          .agg(count(lit(1)).as("t"), sum(col("y")).as("tp"))
        val w = g.withColumn("below",
          coalesce(sum(col("t")).over(
            Window.orderBy("score")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        // Overflow envelope: the rank-sum numerator reaches
        // 2e6·npos·nneg, which leaves int64 once the held-out set
        // exceeds ~4M docs (npos·nneg > ~4.6e12) — and a Spark long
        // sum would WRAP silently while DuckDB promotes to HUGEINT,
        // diverging exactly at scale. So every term from the rank-sum
        // on runs in DECIMAL(38,0) (exact to ~1e15 eval docs; the
        // final integral division returns the BIGINT ppm). The
        // oracle's per-term BIGINT product errors loudly — never
        // silently — past ~1.7e9 held-out docs.
        w.agg(
          coalesce(sum(col("tp")), lit(0L)).as("npos"),
          coalesce(sum(col("t")) - sum(col("tp")), lit(0L)).as("nneg"),
          coalesce(
            sum((col("tp").cast("decimal(38,0)")) *
              (col("below") * 2 + col("t") + 1)),
            lit(0L).cast("decimal(38,0)")).as("s2mid"))
          .select(col("npos"), col("nneg"),
            when(col("npos") === 0 || col("nneg") === 0, lit(0L))
              .otherwise(expr(
                "CAST((s2mid - CAST(npos AS DECIMAL(38,0)) * (npos + 1))" +
                  " * 1000000" +
                  " div (CAST(2 AS DECIMAL(38,0)) * npos * nneg)" +
                  " AS BIGINT)"))
              .as("auc_ppm"))
      },
      oracle = Some(s"""
        WITH $classifierCtes,
        atot AS (SELECT doc_id, sum(score) AS stot
                 FROM cscores GROUP BY doc_id),
        en AS (
          SELECT CAST(d.lang = 'en' AS BIGINT) AS y,
                 CASE WHEN coalesce(t.stot, 0) = 0 THEN 0
                      ELSE coalesce(s.score, 0) * 1000 // t.stot
                 END AS score
          FROM cdocs d
          LEFT JOIN cscores s ON s.doc_id = d.doc_id AND s.c = 'en'
          LEFT JOIN atot t ON t.doc_id = d.doc_id
          WHERE d.bucket >= 80),
        g AS (SELECT score, count(*) AS t, sum(y) AS tp
              FROM en GROUP BY score),
        w AS (SELECT score, t, tp,
                     coalesce(sum(t) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS below
              FROM g)
        SELECT CAST(coalesce(sum(tp), 0) AS BIGINT) AS npos,
               CAST(coalesce(sum(t) - sum(tp), 0) AS BIGINT) AS nneg,
               CAST(CASE WHEN coalesce(sum(tp), 0) = 0
                           OR coalesce(sum(t) - sum(tp), 0) = 0 THEN 0
                    ELSE (sum(tp * (2 * below + t + 1))
                          - sum(tp) * (sum(tp) + 1))
                         * 1000000 // (2 * sum(tp) * (sum(t) - sum(tp)))
                    END AS BIGINT) AS auc_ppm
        FROM w""")),

    // ----------------------- calibration bins (reliability decomposed)
    // Does the classifier's confidence MEAN anything? Per-doc
    // probability proxy p = en_score·1000 // total_score (exact ppk;
    // no-evidence docs score 0), binned into 10 fixed-width bins;
    // each bin reports its size, mean predicted ppk, observed
    // positive rate ppk, and per-bin Brier term Σ(p − 1000·y)² // n —
    // the reliability decomposition a threshold/temperature choice
    // reads. All integer, all operands non-negative. Scale shape: one
    // map-side-combinable aggregate over the per-doc scores the
    // classifier already computes; output is ≤ 10 rows at any corpus
    // size.
    "q_text_calibration" -> GraftQuery(
      run = (s, d) => {
        val (held, scores) = classifierScores(s, d)
        val tot = scores.groupBy("doc_id").agg(sum("score").as("stot"))
        val en = scores.filter(col("c") === "en")
          .select(col("doc_id"), col("score").as("sen"))
        val p = held.join(en, Seq("doc_id"), "left")
          .join(tot, Seq("doc_id"), "left")
          .select((col("lang") === "en").cast("long").as("y"),
            when(coalesce(col("stot"), lit(0L)) === 0, lit(0L))
              .otherwise(expr(
                "coalesce(sen, CAST(0 AS BIGINT)) * 1000 div stot"))
              .as("p_ppk"))
        p.withColumn("bin", expr("least(9, p_ppk div 100)"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            sum(col("p_ppk")).as("sp"),
            sum(col("y")).as("ny"),
            sum((col("p_ppk") - col("y") * 1000)
              * (col("p_ppk") - col("y") * 1000)).as("se"))
          .select(col("bin"), col("n"),
            expr("sp div n").as("mean_p_ppk"),
            expr("ny * 1000 div n").as("pos_rate_ppk"),
            expr("se div n").as("brier_ppm"))
          .orderBy("bin")
      },
      oracle = Some(s"""
        WITH $classifierCtes,
        tot AS (SELECT doc_id, sum(score) AS stot
                FROM cscores GROUP BY doc_id),
        p AS (
          SELECT CAST(d.lang = 'en' AS BIGINT) AS y,
                 CASE WHEN coalesce(t.stot, 0) = 0 THEN 0
                      ELSE coalesce(e.score, 0) * 1000 // t.stot
                 END AS p_ppk
          FROM cdocs d
          LEFT JOIN cscores e ON e.doc_id = d.doc_id AND e.c = 'en'
          LEFT JOIN tot t ON t.doc_id = d.doc_id
          WHERE d.bucket >= 80)
        SELECT CAST(least(9, p_ppk // 100) AS BIGINT) AS bin,
               count(*) AS n,
               CAST(sum(p_ppk) // count(*) AS BIGINT) AS mean_p_ppk,
               CAST(sum(y) * 1000 // count(*) AS BIGINT) AS pos_rate_ppk,
               CAST(sum((p_ppk - y * 1000) * (p_ppk - y * 1000))
                    // count(*) AS BIGINT) AS brier_ppm
        FROM p GROUP BY 1 ORDER BY bin""")),

    // ---------------------- PMI co-occurrence (collocation extraction)
    // The phrase-mining / embedding-precursor primitive: adjacent-word
    // co-occurrence counts vs unigram counts, ranked by pointwise
    // mutual information. PMI stays in exact integer arithmetic —
    // p(x,y)/(p(x)p(y)) = c_xy·N² / (P·c_x·c_y), emitted ×10⁴ with a
    // FIXED staged-division order so both engines run the identical op
    // sequence (all operands non-negative, so trunc == floor; peak
    // magnitude c_xy·10⁴·N ≈ 7e14 at sf0.1 — 128-bit or per-shard
    // scaling would take over near 1e18 tokens, noted not needed at
    // this grid). Scale shape: pair and unigram counting are partial
    // +final hash aggregates (map-side combine; shuffle is
    // O(vocab²-observed), Zipf-small); the two unigram joins broadcast
    // the vocabulary-sized count table; the c_xy ≥ 5 support filter
    // runs before any join; top-50 is TakeOrderedAndProject with a
    // total (pmi, w1, w2) order.
    "q_text_pmi" -> GraftQuery(
      run = (s, d) => {
        val t = Tables.documents(s, d)
          .withColumn("ws", filter(split(col("text"), " "), w => w =!= ""))
        val uni = t.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cw"))
        val nTok = uni.agg(sum(col("cw")).as("n_tok"))
        val pairs = t.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(ws) - 1), i -> struct(" +
              "least(ws[i-1], ws[i]) AS w1, " +
              "greatest(ws[i-1], ws[i]) AS w2))")).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        val nPair = pairs.agg(count(lit(1)).as("n_pair"))
        pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
          .filter(col("cxy") >= 5)
          .join(broadcast(uni.withColumnRenamed("w", "w1")
            .withColumnRenamed("cw", "cw1")), "w1")
          .join(broadcast(uni.withColumnRenamed("w", "w2")
            .withColumnRenamed("cw", "cw2")), "w2")
          .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
          .select(col("w1"), col("w2"), col("cxy"), col("cw1"), col("cw2"),
            expr("((cxy * 10000 * n_tok) div cw1) * n_tok" +
              " div (cw2 * n_pair)").as("pmi_scaled"))
          .orderBy(col("pmi_scaled").desc, col("w1"), col("w2"))
          .limit(50)
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '),
                                     w -> w <> '') AS ws
          FROM documents),
        uni AS (SELECT w, count(*) AS cw
                FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
        tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tok FROM uni),
        pr AS (SELECT least(ws[s.i], ws[s.i+1]) AS w1,
                      greatest(ws[s.i], ws[s.i+1]) AS w2
               FROM t, LATERAL (SELECT unnest(generate_series(1,
                                len(ws) - 1)) AS i) s
               WHERE len(ws) >= 2),
        ptot AS (SELECT CAST(count(*) AS BIGINT) AS n_pair FROM pr),
        pc AS (SELECT w1, w2, count(*) AS cxy FROM pr GROUP BY 1, 2)
        SELECT w1, w2, cxy, u1.cw AS cw1, u2.cw AS cw2,
               ((cxy * 10000 * n_tok) // u1.cw) * n_tok
                 // (u2.cw * n_pair) AS pmi_scaled
        FROM pc
        JOIN uni u1 ON u1.w = pc.w1
        JOIN uni u2 ON u2.w = pc.w2
        CROSS JOIN tot CROSS JOIN ptot
        WHERE cxy >= 5
        ORDER BY pmi_scaled DESC, w1, w2 LIMIT 50""")),

    // -------------------- length-bucketed batch shaping (padding audit)
    // The fairseq/T5 batching step sequential packing (q_text_pack)
    // does NOT cover: group documents into power-of-two length buckets
    // (16..512 tokens; longer docs truncate to 512) and shape
    // fixed-capacity batches per (source, bucket) — batch rows
    // B = 4096 div bucket, so every batch costs the same 4096 padded
    // tokens. Output per (source, bucket): doc count, batch count
    // (ceil-div), real vs padded token totals and the padding waste in
    // ppm — the number a batching strategy is judged by. All integer
    // arithmetic; the bucket is a 6-way CASE, not a float log2, so
    // boundary docs (exactly 64 tokens) bucket identically in both
    // engines. Scale shape: one map-side projection into a
    // partial+final hash aggregate keyed (source, bucket) —
    // |sources|·6 result rows at ANY corpus size, no window, no join.
    "q_text_length_buckets" -> GraftQuery(
      run = (s, d) =>
        Tables.documents(s, d)
          .withColumn("n_tokens",
            size(filter(split(col("text"), " "), x => x =!= ""))
              .cast("long"))
          .withColumn("bucket",
            when(col("n_tokens") <= 16, 16L)
              .when(col("n_tokens") <= 32, 32L)
              .when(col("n_tokens") <= 64, 64L)
              .when(col("n_tokens") <= 128, 128L)
              .when(col("n_tokens") <= 256, 256L)
              .otherwise(512L))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(least(col("n_tokens"), col("bucket"))).as("real_tokens"))
          .select(col("source"), col("bucket"), col("n_docs"),
            expr("(n_docs + (4096 div bucket) - 1) div (4096 div bucket)")
              .as("n_batches"),
            col("real_tokens"),
            (col("n_docs") * col("bucket")).as("padded_tokens"),
            expr("(n_docs * bucket - real_tokens) * 1000000" +
              " div (n_docs * bucket)").as("waste_ppm"))
          .orderBy("source", "bucket"),
      oracle = Some("""
        WITH t AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS BIGINT) AS n_tokens
          FROM documents),
        b AS (
          SELECT source, n_tokens,
                 CAST(CASE WHEN n_tokens <= 16 THEN 16
                           WHEN n_tokens <= 32 THEN 32
                           WHEN n_tokens <= 64 THEN 64
                           WHEN n_tokens <= 128 THEN 128
                           WHEN n_tokens <= 256 THEN 256
                           ELSE 512 END AS BIGINT) AS bucket
          FROM t),
        g AS (
          SELECT source, bucket, count(*) AS n_docs,
                 CAST(sum(least(n_tokens, bucket)) AS BIGINT)
                   AS real_tokens
          FROM b GROUP BY 1, 2)
        SELECT source, bucket, n_docs,
               (n_docs + (4096 // bucket) - 1) // (4096 // bucket)
                 AS n_batches,
               real_tokens,
               n_docs * bucket AS padded_tokens,
               (n_docs * bucket - real_tokens) * 1000000
                 // (n_docs * bucket) AS waste_ppm
        FROM g ORDER BY source, bucket"""))
  )
}
