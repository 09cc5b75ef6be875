package graft.streaming

import graft.{GraftQuery, QueryPack}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming corpus operators over the `documents` table — the online
  * forms of the [[graft.operators.Dedup]] batch pack.
  *
  * Streaming near-dup dedup is the shape a continuously-ingesting
  * training-data pipeline needs: each arriving document is admitted or
  * flagged against everything seen SO FAR, without re-scanning the
  * corpus. MinHash band keys make that a pure key-value state problem:
  * a doc is a near-dup candidate iff some band key was already claimed
  * by an earlier doc, so the state per band key is just the canonical
  * (minimum) doc_id — O(1) state per key in the state store, the same
  * scale shape as streaming exact dedup.
  *
  * Replayed over the static parquet with `Trigger.AvailableNow` (one
  * micro-batch), "earliest doc wins" is "minimum doc_id wins", which is
  * exactly SQL over the band table — hence a full DuckDB oracle. Pointed
  * at a live landing directory, the same query gives first-ARRIVAL-wins
  * semantics with state carried across micro-batches — the production
  * behavior (`MultiBatchStateSpec`-style carry is proven for the events
  * sessionizer; the band-key state here is strictly simpler).
  */
object DocStreams extends QueryPack {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The one documents stream reader — mirror of
    * [[EventStreams.eventStream]]: a schema/option change lands here
    * once instead of silently diverging across hand-built readers. */
  private def docStream(
      s: SparkSession, dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    var reader = s.readStream.schema(docSchema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(dir)
  }

  /** (doc_id, partner) stream: every document that shares a MinHash band
    * key with an already-seen document, paired with that key's canonical
    * (first-seen) doc. First-ARRIVAL-wins: the state per band key is the
    * first doc to claim it; within one micro-batch "first" is
    * canonicalized to the minimum doc_id (task order is not
    * deterministic, the minimum is). Exposed for the multi-batch spec;
    * the registry query replays the static table in one batch, where
    * first-seen ≡ minimum doc_id — the SQL oracle. */
  private[streaming] def minhashPartnerStream(
      s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    Dedup.minhashBandRows(
        Dedup.shingleSets(docStream(s, dir, glob, maxFilesPerTrigger))
          .as[(Long, Seq[String])])
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), it: Iterator[(Long, Int, String)],
         state: GroupState[Long]) => {
          val ids = it.map(_._1).toArray
          java.util.Arrays.sort(ids)
          if (state.exists) {
            // the key is claimed: every arriving doc is a near-dup of
            // the standing canonical (skip a replayed canonical itself)
            val m = state.get
            ids.iterator.filter(_ != m).map(id => (id, m))
          } else {
            val m = ids(0)
            state.update(m)
            // filter, not drop(1): an at-least-once re-delivery can
            // put the SAME doc_id in one batch twice, and drop(1)
            // would emit the canonical as a near-dup of itself —
            // the exact replay case the claimed branch guards
            ids.iterator.filter(_ != m).map(id => (id, m))
          }
        })
      .toDF("doc_id", "partner")
  }

  val queries: Map[String, GraftQuery] = Map(

    // ----------------------------------- streaming MinHash near-dup dedup
    // Map-side signature kernel (shared with the batch LSH query, so the
    // two paths cannot drift) → flatMapGroupsWithState keyed by
    // (band, key): state = the first doc to claim the key; every later
    // doc on the key emits (doc, canonical). A final aggregate takes the
    // minimum canonical over a doc's 4 bands. Only band keys shuffle —
    // 4 small rows per doc, never text.
    "q_stream_minhash_dedup" -> GraftQuery(
      run = (s, d) => {
        val partners = minhashPartnerStream(s, d, "documents.parquet")
        EventStreams.runToMemory(s,
            partners.groupBy("doc_id")
              .agg(min(col("partner")).as("dup_of")),
            "graft_stream_mhdedup", OutputMode.Update())
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH ${Dedup.docShinglesCte},
        ${Dedup.minhashBandsCte},
        gm AS (SELECT band, key, min(doc_id) AS m FROM bands
               GROUP BY 1, 2)
        SELECT b.doc_id AS doc_id, min(g.m) AS dup_of
        FROM bands b JOIN gm g ON g.band = b.band AND g.key = b.key
        WHERE b.doc_id > g.m
        GROUP BY 1 ORDER BY doc_id""")),

    // ------------------------------------ streaming corpus admission gate
    // The online form of [[graft.operators.Dedup]]'s q_dedup_incremental:
    // arriving documents (doc_id % 5 = 4 replays today's batch) are
    // dispositioned against a STATIC corpus index — digest set for exact
    // duplicates, minhash band index for near-candidates — through two
    // stateless stream-static broadcast joins, so the stream never
    // shuffles against the corpus and the only stateful operator is the
    // per-doc min aggregate combining the two probe branches. At 100 TB
    // the corpus index is the precomputed bucketed table the batch op
    // describes; the stream side touches only its own buckets. Near
    // candidates are band collisions (unverified — the streaming
    // analogue of q_stream_minhash_dedup; the batch gate adds the exact
    // Jaccard verification).
    "q_stream_admission" -> GraftQuery(
      run = (s, d) => {
        import s.implicits._
        val corpus = graft.Tables.documents(s, d)
          .filter(col("doc_id") % 5 =!= 4)
        val cdig = corpus.groupBy(md5(col("text")).as("dig"))
          .agg(min(col("doc_id")).as("eid"))
        val cBands = Dedup.minhashBandRows(
            Dedup.shingleSets(corpus).as[(Long, Seq[String])])
          .toDF("c_id", "band", "key")
        def batchStream = docStream(s, d)
          .filter(col("doc_id") % 5 === 4)
        val exactProbe = batchStream
          .select(col("doc_id"), md5(col("text")).as("dig"))
          .join(broadcast(cdig), Seq("dig"), "left")
          .select(col("doc_id"), col("eid"), lit(null).cast("long").as("nid"))
        val bandProbe = Dedup.minhashBandRows(
            Dedup.shingleSets(batchStream).as[(Long, Seq[String])])
          .toDF("doc_id", "band", "key")
          .join(broadcast(cBands), Seq("band", "key"), "left")
          .select(col("doc_id"), lit(null).cast("long").as("eid"),
            col("c_id").as("nid"))
        val agg = exactProbe.unionByName(bandProbe)
          .groupBy("doc_id")
          .agg(min(col("eid")).as("exact_id"), min(col("nid")).as("near_id"))
        EventStreams.runToMemory(s, agg, "graft_stream_admission",
            OutputMode.Update())
          .select(col("doc_id"),
            when(col("exact_id").isNotNull, lit("duplicate_exact"))
              .when(col("near_id").isNotNull, lit("near_candidate"))
              .otherwise(lit("admitted")).as("status"),
            coalesce(col("exact_id"), col("near_id")).as("match_id"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH ${Dedup.docShinglesCte},
        ${Dedup.minhashBandsCte},
        cdig AS (SELECT md5(text) AS dig, min(doc_id) AS exact_id
                 FROM documents WHERE doc_id % 5 <> 4 GROUP BY 1),
        ex AS (SELECT b.doc_id, cdig.exact_id
               FROM documents b LEFT JOIN cdig ON cdig.dig = md5(b.text)
               WHERE b.doc_id % 5 = 4),
        near AS (SELECT a.doc_id, min(b.doc_id) AS near_id
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.key = b.key
                 WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
                 GROUP BY 1)
        SELECT ex.doc_id,
               CASE WHEN ex.exact_id IS NOT NULL THEN 'duplicate_exact'
                    WHEN near.near_id IS NOT NULL THEN 'near_candidate'
                    ELSE 'admitted' END AS status,
               coalesce(ex.exact_id, near.near_id) AS match_id
        FROM ex LEFT JOIN near ON near.doc_id = ex.doc_id
        ORDER BY ex.doc_id""")),

    // --------------------------------- streaming video admission gate
    // The frame-fingerprint twin of q_stream_admission: arriving docs'
    // frame signatures (built STATELESSLY inside one array expression —
    // no streaming distinct) probe the static corpus signature index
    // through a broadcast join; the one stateful operator is the
    // per-(doc, corpus-doc) shared-signature count. The ≥2-shared
    // verdict and the min-match reduction run batch-side on the (tiny,
    // aggregated) sink table. At 100 TB the corpus index is the
    // precomputed inverted fingerprint table and the stream touches
    // only its own signatures' buckets — O(batch) video admission.
    "q_stream_video_admission" -> GraftQuery(
      run = (s, d) => {
        val corpusSigs = graft.operators.Multimodal.frameSigRows(
            graft.Tables.documents(s, d)
              .filter(col("doc_id") % 5 =!= 4))
          .filter(col("sig").isNotNull)
          .withColumnRenamed("doc_id", "c_id")
        def batchStream = docStream(s, d)
          .filter(col("doc_id") % 5 === 4)
        val pairCounts = graft.operators.Multimodal
          .frameSigRows(batchStream)
          .join(broadcast(corpusSigs), Seq("sig"), "left")
          .groupBy("doc_id", "c_id")
          .agg(count(lit(1)).as("n_shared"))
        EventStreams.runToMemory(s, pairCounts,
            "graft_stream_video_admission", OutputMode.Update())
          .groupBy("doc_id")
          .agg(min(when(col("c_id").isNotNull && col("n_shared") >= 2,
            col("c_id"))).as("match_id"))
          .select(col("doc_id"),
            when(col("match_id").isNotNull, lit("near_video"))
              .otherwise(lit("admitted")).as("status"),
            col("match_id"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH vs AS (
          SELECT DISTINCT doc_id,
                 ('0x'||substr(md5(substr(text, 1 + 32*f, 32)), 1, 8))::BIGINT
                   AS sig
          FROM documents, generate_series(0, 7) t(f)
          WHERE n_chars >= 32*(f+1)),
        bs AS (SELECT * FROM vs WHERE doc_id % 5 = 4),
        cs AS (SELECT doc_id AS c_id, sig FROM vs WHERE doc_id % 5 <> 4),
        m AS (SELECT b.doc_id, c.c_id, count(*) AS n
              FROM bs b JOIN cs c ON c.sig = b.sig
              GROUP BY 1, 2 HAVING count(*) >= 2),
        mm AS (SELECT doc_id, min(c_id) AS match_id FROM m GROUP BY 1)
        SELECT d.doc_id,
               CASE WHEN mm.match_id IS NOT NULL THEN 'near_video'
                    ELSE 'admitted' END AS status,
               mm.match_id
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 5 = 4) d
        LEFT JOIN mm ON mm.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // --------------------- streaming maintenance of the durable index
    // The band-index store (q_dedup_index_store's on-disk artifact)
    // maintained FROM A STREAM: each micro-batch runs the same
    // anti-join-resume upsert via foreachBatch, so re-delivered or
    // replayed documents are banded exactly once — the at-least-once
    // file source composes with the idempotent store into effectively-
    // once index maintenance. Replayed over the static table, the store
    // must equal a from-scratch banding: the oracle is the SAME per-band
    // profile q_dedup_index_store verifies, proving batch and streaming
    // maintenance converge on one artifact.
    "q_stream_index_upsert" -> GraftQuery(
      run = (s, d) => {
        // one scratch store per (session, dataset), NOT per call: the
        // anti-join resume makes reuse both correct and cheaper (a
        // second run indexes nothing)
        val store = graft.StoreBuilds
          .scratchDir(s, d, "graft-stream-band-index") + "/store"
        val docs = docStream(s, d)
          .select(col("doc_id"), col("text"))
        val q = docs.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            Dedup.bandIndexResumable(s, batch, store): Unit
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // a zero-file (or zero-row) source may fire no batch at all, so
        // the store was never created — an empty corpus is an empty
        // profile, not a read error
        val rows = graft.StoreBuilds.durable(s, store, Dedup.bandSchema)
          .getOrElse(s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            Dedup.bandSchema))
        Dedup.bandIndexProfile(rows)
      },
      oracle = Some(s"""
        WITH ${Dedup.docShinglesCte},
        ${Dedup.minhashBandsCte},
        ${Dedup.bandIndexProfileSql}"""))
  )
}
