package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Similarity-family query registry. */
private[graft] object SimilarityQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §7.5 extensions: similarity search -------------------------------
    "q_ann_topk" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.lshTopK(emb, emb.filter(col("vec_id") % 50 === 0), dim = 64, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF against TRAINED centroids (2 Lloyd rounds) — the index build as
    // a trained artifact instead of the deterministic seed sample.
    "q_ann_ivf_trained" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      val cents = operators.Similarity.kmeans(emb, maxIter = 2)
      operators.Similarity.ivfTopKTrained(
          emb, emb.filter(col("vec_id") % 50 === 0), k = 5, cents, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),
    // Join-fanout audit for orders⋈lineitem, without running the join.
    "q_join_fanout" -> ((s, dir) =>
      operators.Skew.joinFanoutAudit(
        Crm.table(s, dir, "orders"), col("o_orderkey"), Crm.table(s, dir, "lineitem"), col("l_orderkey"))),
    // Per-source integrity manifest: counts, order-free checksum, key range.
    "q_manifest" -> ((s, dir) =>
      operators.Reconcile.manifest(
        Crm.table(s, dir, "documents"),
        col("source"), col("doc_id"), col("text"))
        .orderBy(col("part"))),
    // Streaming twin of q_manifest: complete-mode per-source integrity
    // record over the document stream (bounded run == batch, the oracle).
    "q_stream_manifest" -> ((s, dir) => {
      streaming.EventsStream.runToCompletion(s, "q_stream_manifest_sink") { ss =>
        operators.Reconcile.manifest(
          ss.readStream.schema(Crm.schemas("documents"))
            .parquet(s"$dir/documents.parquet*"),
          col("source"), col("doc_id"), col("text"))
      }.orderBy(col("part"))
    }),
    // Snapshot drift: chi-square over length buckets, even vs odd doc ids.
    "q_drift" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Reconcile.histogramDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        expr("n_chars DIV 200"))
    }),
    // Streaming drift: delta-half bucket counts build in a stream (complete
    // mode), the chi-square vs the static baseline finishes in batch — the
    // continuous-monitoring form of q_drift (shares its oracle).
    "q_stream_drift" -> ((s, dir) => {
      val streamCounts = streaming.EventsStream.runToCompletion(
        s, "q_stream_drift_sink") { ss =>
        ss.readStream.schema(Crm.schemas("documents"))
          .parquet(s"$dir/documents.parquet*").filter(col("doc_id") % 2 === 1)
          .groupBy(expr("n_chars DIV 200").as("bucket"))
          .agg(count(lit(1)).as("c_b"))
      }
      val base = Crm.table(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .groupBy(expr("n_chars DIV 200").as("bucket"))
        .agg(count(lit(1)).as("c_a"))
      operators.Reconcile.driftFromCounts(base, streamCounts)
    }),
    // Embedding covariance (upper triangle): the whitening/PCA input.
    "q_embed_cov" -> ((s, dir) =>
      operators.Similarity.covarianceMatrix(
        Crm.table(s, dir, "embeddings"))
        .orderBy(col("i"), col("j"))),
    // IVF-PQ ANN: coarse cell pruning + asymmetric-distance (ADC) scoring.
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF-PQ against TRAINED fixed-K artifacts (VERDICT r9 #5): kmeansFixedK
    // coarse cells + per-subspace trained PQ codebook — every index-build
    // product is N × constant (linear), vs q_ann_ivfpq's K = N/centroidEvery
    // (quadratic by parameterization). The query set is FIXED (vec_id < 2000)
    // so measured scale factors reflect the index, not a growing probe load.
    "q_ann_ivfpq_trained" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.ivfPqTopKTrained(
          emb, emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000), k = 5,
          coarseCents = Some(fixedKCentroidsArtifact(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }),
    // The PERSISTED index lifecycle (FAISS build/search split): the whole
    // trained IVF-PQ index written to parquet once, then the SAME query
    // batch searched from the artifact alone — full vectors never load at
    // search time. Output-equal to q_ann_ivfpq_trained by construction
    // (shared adcSearch core), so it gates against the SAME oracle SQL.
    "q_ann_index" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      // serve from the persisted index; derivation is proven by the
      // input-fingerprint manifest check (train corpus == serve corpus),
      // not by retraining inline (VERDICT r12 #5)
      val idx = ivfPqIndexArtifact(s, dir)
      operators.ArtifactManifest.check(idx, emb,
        Seq(col("vec_id"), col("embedding")))
      operators.Similarity.ivfPqSearchIndex(
          idx, emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // Streaming index REFRESH (r14): the same persisted IVF-PQ index, but
    // built over vec_id % 4 != 0 and fed the % 4 == 0 delta as a 3-micro-
    // batch stream — each batch is assigned by the STORED quantizers
    // (FAISS `add`; never retrained), appended, and the provenance manifest
    // re-proven. The refreshed index is invariant to the batch split, so
    // the search gates against the train-on-base / assign-all SQL chain.
    "q_stream_ann_refresh" -> ((s, dir) =>
      streaming.AnnIndexRefresh.gatedRefresh(s, dir)
        .orderBy(col("query_id"), col("rank"))),
    // Two-stage retrieval (IVFADC+R, the FAISS refine shape): the trained
    // IVF-PQ search keeps a 20-candidate shortlist per query by ADC over
    // codes only; full vectors are fetched for the shortlist alone (a
    // broadcast probe of the vector store, never a corpus shuffle) and
    // re-ranked by EXACT L2² for the final top-5.
    "q_ann_ivfpq_rerank" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.ivfPqRerank(
          emb, emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000),
          k = 5, shortlist = 20,
          coarseCents = Some(fixedKCentroidsArtifact(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF against TRAINED FIXED-K centroids (kmeansFixedK, 32 cells, 2 Lloyd
    // rounds) — the linear production parameterization of the plain-IVF
    // path: index-build flops are N × 32 at every corpus size, where
    // q_ann_ivf_trained's K = N/40 makes the same product quadratic. Query
    // set pinned (vec_id < 2000) so measured scale factors isolate the index.
    "q_ann_ivf_fixedk" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.ivfTopKTrained(
          emb, emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000),
          k = 5, fixedKCentroidsArtifact(s, dir), nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),
    // Order-sensitive index eval: nDCG@5 of the IVF list vs the exact one.
    "q_ann_ndcg" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.annNdcg(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy(col("query_id"))
    }),
    // ANN index-quality evaluation: recall@5 of the IVF index vs exact top-5.
    "q_ann_recall" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.annRecall(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy(col("query_id"))
    }),
    // MRR of the exact nearest neighbor within the IVF list.
    "q_ann_mrr" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      operators.Similarity.annMrr(emb, emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy(col("query_id"))
    }),
    "q_cosine_neardup" -> ((s, dir) =>
      operators.Similarity.cosineNearDupPairs(
        Crm.table(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("vec_id_a"), col("vec_id_b"))),
    // the scale path: same-bucket candidates only (~n²/2^nBits pairs)
    "q_cosine_neardup_lsh" -> ((s, dir) =>
      operators.Similarity.lshNearDupPairs(
        Crm.table(s, dir, "embeddings"), dim = 64, threshold = 0.4)
        .orderBy(col("vec_id_a"), col("vec_id_b"))),
    // deterministic md5-keyed train/eval split — reproducible across reruns,
    // engines and cluster layouts (rand() is none of those)
    "q_train_split" -> ((s, dir) =>
      operators.Sampling.trainEvalSplit(
        Crm.table(s, dir, "documents"), col("doc_id"), 0.8)
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"))),
    // end-to-end curation: lang filter → quality gate → dedup keepers →
    // deterministic subsample, fused into one corpus pass + one agg shuffle
    "q_curation" -> ((s, dir) =>
      operators.Curation.curate(Crm.table(s, dir, "documents"),
        "doc_id", "text", lang = "en", minQuality = 0.45, sampleFraction = 0.5)
        .orderBy(col("doc_id"))),
    // Data-constrained epoch scheduling: budget split ∝ token mass, ≤4 epochs.
    "q_token_budget" -> ((s, dir) =>
      operators.Curation.tokenBudget(Crm.table(s, dir, "documents"),
        "text", "source", budget = 100000L, maxEpochs = 4)
        .orderBy(col("source"))),
    // The whole pipeline composed: curate → leakage-safe split → shard.
    // Gated end-to-end on the (split, shard) manifest.
    "q_pipeline_manifest" -> ((s, dir) =>
      operators.Curation.pipelineManifest(
        Crm.table(s, dir, "documents"), "doc_id", "text",
        lang = "en", minQuality = 0.3, sampleFraction = 1.0,
        pairs = lshPairs(s, dir), aCol = "doc_id_a", bCol = "doc_id_b",
        trainFraction = 0.8, nShards = 8)
        .orderBy(col("split"), col("shard"))),
    // Epoch-seeded shuffle-sharding: the loader's "global shuffle" as a
    // pure row-local hash — reproducible, different per epoch, no global
    // sort. Gated on the shard manifest (balance + order-free checksums).
    "q_shuffle_shards" -> ((s, dir) =>
      operators.Curation.shuffleShards(
        Crm.table(s, dir, "documents"), "doc_id", "text",
        nShards = 8, epochs = 2)
        .orderBy(col("epoch"), col("shard"))),
    // Observability twin of q_curation: per-stage survivor/drop counts.
    "q_curation_funnel" -> ((s, dir) => {
      operators.Curation.curationFunnel(Crm.table(s, dir, "documents"),
        "doc_id", "text", lang = "en", minQuality = 0.45, sampleFraction = 0.5)
        .orderBy(col("stage_idx"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_ann_topk" -> O.annTopKSql(5, "vec_id % 50 = 0"),
    "q_ann_lsh" -> O.annLshSql(5, "vec_id % 50 = 0", nBits = 8),
    "q_ann_ivf" -> O.annIvfSql(5, "vec_id % 50 = 0", centroidEvery = 40, nprobe = 2),
    "q_ann_ivf_trained" -> O.annIvfTrainedSql(5, "vec_id % 50 = 0",
      centroidEvery = 40, iters = 2, nprobe = 2),
    "q_ann_ivf_fixedk" -> O.annIvfFixedKSql(5,
      "vec_id % 50 = 0 AND vec_id < 2000", kCoarse = 32, iters = 2, nprobe = 2),
    "q_ann_recall" -> O.annRecallSql(5, "vec_id % 50 = 0", centroidEvery = 40, nprobe = 2),
    "q_ann_mrr" -> O.annMrrSql(5, "vec_id % 50 = 0", centroidEvery = 40, nprobe = 2),
    "q_ann_ndcg" -> O.annNdcgSql(5, "vec_id % 50 = 0", centroidEvery = 40, nprobe = 2),
    "q_ann_ivfpq" -> O.ivfPqSql(5, "vec_id % 50 = 0", m = 4, dim = 64,
      centroidEvery = 40, nprobe = 2),
    "q_ann_ivfpq_trained" -> O.ivfPqTrainedSql(5,
      "vec_id % 50 = 0 AND vec_id < 2000", m = 4, dim = 64,
      kCoarse = 32, coarseIters = 2, kPq = 32, pqIters = 1, nprobe = 2),
    // persisted-index search is output-equivalent to the in-memory trained
    // path (shared adcSearch core; SimilaritySpec pins it) — same oracle
    "q_ann_index" -> O.ivfPqTrainedSql(5,
      "vec_id % 50 = 0 AND vec_id < 2000", m = 4, dim = 64,
      kCoarse = 32, coarseIters = 2, kPq = 32, pqIters = 1, nprobe = 2),
    // quantizers train on the % 4 != 0 base; cells/codes/search cover all —
    // the append-by-stored-quantizers lifecycle the streamed refresh folds
    "q_stream_ann_refresh" -> O.ivfPqRefreshSql(5,
      "vec_id % 50 = 0 AND vec_id < 2000", trainSel = "vec_id % 4 <> 0",
      m = 4, dim = 64, kCoarse = 32, coarseIters = 2, kPq = 32, pqIters = 1,
      nprobe = 2),
    "q_ann_ivfpq_rerank" -> O.ivfPqRerankSql(5, shortlist = 20,
      "vec_id % 50 = 0 AND vec_id < 2000", m = 4, dim = 64,
      kCoarse = 32, coarseIters = 2, kPq = 32, pqIters = 1, nprobe = 2),
    "q_join_fanout" ->
      s"""WITH lc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
        |      FROM orders GROUP BY 1),
        |rc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nr
        |      FROM lineitem GROUP BY 1),
        |f AS (SELECT lc.k, CAST(nl AS HUGEINT) * nr AS fan FROM lc JOIN rc ON lc.k = rc.k),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_matching_keys,
        |        CAST(sum(fan) AS BIGINT) AS n_out_rows,
        |        CAST(max(fan) AS BIGINT) AS max_key_fanout FROM f)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right,
        |  n_matching_keys, n_out_rows, max_key_fanout,
        |  ${O.detRoundSql("CAST(n_out_rows AS DOUBLE) / n_matching_keys", 4)}
        |    AS avg_key_fanout
        |FROM s""".stripMargin,
    "q_manifest" ->
      s"""SELECT source AS part, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(${O.hash60Sql("text")}) % 1152921504606846976 AS BIGINT)
        |    AS content_checksum,
        |  CAST(min(doc_id) AS BIGINT) AS min_key,
        |  CAST(max(doc_id) AS BIGINT) AS max_key
        |FROM documents GROUP BY source ORDER BY part""".stripMargin,
    // bounded complete-mode run == the batch manifest, so the mirror is shared
    "q_stream_manifest" ->
      s"""SELECT source AS part, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(${O.hash60Sql("text")}) % 1152921504606846976 AS BIGINT)
        |    AS content_checksum,
        |  CAST(min(doc_id) AS BIGINT) AS min_key,
        |  CAST(max(doc_id) AS BIGINT) AS max_key
        |FROM documents GROUP BY source ORDER BY part""".stripMargin,
    "q_drift" -> driftOracleSql,
    // identical batch semantics by construction: the streaming side's
    // complete-mode counts over a bounded AvailableNow run equal the batch
    // counts, so the oracle is the same chi-square
    "q_stream_drift" -> driftOracleSql,
    "q_embed_cov" ->
      s"""WITH x AS (SELECT vec_id, i - 1 AS i, embedding[i]::DOUBLE AS xi,
        |    CAST(floor(embedding[i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS qx
        |  FROM embeddings, range(1, 65) t(i)),
        |p AS (SELECT a.i AS i, b.i AS j,
        |    CAST(floor(a.xi * b.xi * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i),
        |s AS (SELECT i, j, CAST(sum(q) AS BIGINT) AS sq FROM p GROUP BY i, j),
        |m AS (SELECT i, CAST(sum(qx) AS BIGINT) AS sm FROM x GROUP BY i),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings)
        |SELECT CAST(s.i AS BIGINT) AS i, CAST(s.j AS BIGINT) AS j,
        |  ${O.detRoundSql(
             "CAST(sq AS DOUBLE) / 1000000.0 / n_vectors" +
             " - (CAST(mi.sm AS DOUBLE) / 1000000.0 / n_vectors)" +
             " * (CAST(mj.sm AS DOUBLE) / 1000000.0 / n_vectors)", 6)} AS cov
        |FROM s JOIN m mi ON s.i = mi.i JOIN m mj ON s.j = mj.i, n
        |ORDER BY i, j""".stripMargin,
    "q_cosine_neardup" ->
      s"""SELECT vec_id_a, vec_id_b, cos FROM (
        |  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |    ${O.detRoundSql(O.cosineSql("a.embedding", "b.embedding"), 4)} AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.4 ORDER BY vec_id_a, vec_id_b""".stripMargin,
    "q_cosine_neardup_lsh" -> O.lshNearDupSql(threshold = 0.4, nBits = 8),
    "q_train_split" ->
      s"""SELECT CASE WHEN ${sampleKeepSql("doc_id", 0.8)} THEN 'train' ELSE 'eval' END AS split,
        | count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,
    "q_curation" ->
      s"""WITH lang AS ($langIdSelect),
        |qual AS ($textQualitySelect),
        |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
        |SELECT d.doc_id, l.lang_pred, q.quality_score
        |FROM documents d
        |JOIN lang l ON d.doc_id = l.doc_id
        |JOIN qual q ON d.doc_id = q.doc_id
        |JOIN keepers k ON d.doc_id = k.doc_id
        |WHERE l.lang_pred = 'en' AND q.quality_score >= 0.45
        |  AND ${sampleKeepSql("d.doc_id", 0.5)}
        |ORDER BY d.doc_id""".stripMargin,
    "q_token_budget" ->
      s"""WITH t AS (SELECT source,
        |    CAST(sum(len(regexp_extract_all(text,
        |      '${operators.TextAnalysis.TokenPattern}'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM t),
        |a AS (SELECT source, n_tokens, n_tokens * 4 AS cap,
        |    least(n_tokens * 4,
        |      CAST(floor(100000 * CAST(n_tokens AS DOUBLE) / total_tokens) AS BIGINT))
        |      AS alloc
        |  FROM t, tot)
        |SELECT source, n_tokens, cap, alloc,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE ${O.detRoundSql("CAST(alloc AS DOUBLE) / n_tokens", 4)}
        |  END AS epochs
        |FROM a ORDER BY source""".stripMargin,
    "q_pipeline_manifest" ->
      s"""WITH RECURSIVE lang AS ($langIdSelect),
        |qual AS ($textQualitySelect),
        |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |cur AS MATERIALIZED (SELECT d.doc_id FROM documents d
        |  JOIN lang l ON d.doc_id = l.doc_id
        |  JOIN qual q ON d.doc_id = q.doc_id
        |  JOIN keepers k ON d.doc_id = k.doc_id
        |  WHERE l.lang_pred = 'en' AND q.quality_score >= 0.3),
        |pr AS (SELECT doc_id_a AS da, doc_id_b AS db
        |  FROM (${O.minhashLshSql(k = 32, bands = 8, threshold = 0.6)})
        |  WHERE doc_id_a IN (SELECT doc_id FROM cur)
        |    AND doc_id_b IN (SELECT doc_id FROM cur)),
        |e AS (SELECT da AS s, db AS t FROM pr UNION SELECT db, da FROM pr),
        |reach(a, r) AS (SELECT doc_id, doc_id FROM cur
        |  UNION SELECT reach.a, e.t FROM reach JOIN e ON reach.r = e.s),
        |cl AS (SELECT a AS doc_id, min(r) AS cluster_id FROM reach GROUP BY a),
        |sp AS (SELECT doc_id,
        |  CASE WHEN ${sampleKeepSql("cluster_id", 0.8)} THEN 'train' ELSE 'eval' END AS split,
        |  ${O.hash60Sql("CAST(doc_id AS VARCHAR) || ':0'")} AS h FROM cl)
        |SELECT split,
        |  CASE WHEN split = 'train' THEN h % 8 ELSE CAST(-1 AS BIGINT) END AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs, bit_xor(h) AS h_xor
        |FROM sp GROUP BY 1, 2 ORDER BY split, shard""".stripMargin,
    "q_shuffle_shards" ->
      s"""WITH e AS (SELECT CAST(ep AS BIGINT) AS epoch,
        |        CAST(length(text) AS BIGINT) AS len,
        |        ${O.hash60Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(ep AS VARCHAR)")} AS h
        |      FROM documents, (VALUES (0), (1)) t(ep))
        |SELECT epoch, h % 8 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len) AS BIGINT) AS n_chars, bit_xor(h) AS h_xor
        |FROM e GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin,
    "q_curation_funnel" ->
      s"""WITH lang AS ($langIdSelect),
        |qual AS ($textQualitySelect),
        |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |flags AS (SELECT d.doc_id,
        |    (l.lang_pred = 'en') AS f1,
        |    (l.lang_pred = 'en' AND q.quality_score >= 0.45) AS f2,
        |    (l.lang_pred = 'en' AND q.quality_score >= 0.45
        |      AND k.doc_id IS NOT NULL) AS f3,
        |    (l.lang_pred = 'en' AND q.quality_score >= 0.45
        |      AND k.doc_id IS NOT NULL
        |      AND ${sampleKeepSql("d.doc_id", 0.5)}) AS f4
        |  FROM documents d
        |  JOIN lang l ON d.doc_id = l.doc_id
        |  JOIN qual q ON d.doc_id = q.doc_id
        |  LEFT JOIN keepers k ON d.doc_id = k.doc_id),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM flags)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'total' AS stage,
        |    n0 AS n_pass, CAST(0 AS BIGINT) AS n_dropped FROM agg
        |  UNION ALL SELECT 1, 'lang_filter', n1, n0 - n1 FROM agg
        |  UNION ALL SELECT 2, 'quality_gate', n2, n1 - n2 FROM agg
        |  UNION ALL SELECT 3, 'dedup_keeper', n3, n2 - n3 FROM agg
        |  UNION ALL SELECT 4, 'subsample', n4, n3 - n4 FROM agg)
        |ORDER BY stage_idx""".stripMargin)
}
