package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Dedup-family query registry. */
private[graft] object DedupQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §7.5 extensions: dedup -------------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      operators.Dedup.exactDedup(
        Crm.table(s, dir, "documents"), col("text"), col("doc_id"))
        .orderBy(col("doc_id"))),
    "q_dedup_jaccard" -> ((s, dir) =>
      operators.Dedup.jaccardPairs(
        Crm.table(s, dir, "documents"), "doc_id", "text", "lang", 0.6)
        .orderBy(col("doc_id_a"), col("doc_id_b"))),
    "q_dedup_minhash" -> ((s, dir) =>
      lshPairs(s, dir).orderBy(col("doc_id_a"), col("doc_id_b"))),
    // Incremental LSH: dedup the doc_id%4==0 "delta" against itself + the
    // base without base×base pair formation (the nightly-feed shape).
    "q_dedup_incr" -> ((s, dir) =>
      operators.Dedup.minhashLshPairsIncremental(
        Crm.table(s, dir, "documents"), "doc_id", "text",
        col("doc_id") % 4 === 0)
        .orderBy(col("doc_id_a"), col("doc_id_b"))),
    // The persisted-signature lifecycle: base signatures built ONCE to a
    // parquet artifact, then the same delta deduped against it without
    // re-reading base text — must emit exactly q_dedup_incr's rows (same
    // oracle SQL), which is the whole point: the 100 TB nightly path is
    // output-equivalent to re-running the incremental operator on the
    // full corpus, at delta-sized cost.
    "q_dedup_artifact" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      val art = tempDir("lsh_artifact")
      operators.Dedup.writeSignatureArtifact(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", art)
      operators.Dedup.minhashLshPairsDelta(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", art)
        .orderBy(col("doc_id_a"), col("doc_id_b"))
    }),
    // Streaming artifact REFRESH (r14): the same base artifact, but the
    // delta arrives as a 3-micro-batch stream — each batch delta-dedups
    // against the artifact, folds itself in, and atomically updates + checks
    // the provenance manifest. The accumulated pair set is invariant to the
    // batch split, so the bounded run shares q_dedup_artifact's oracle.
    "q_stream_artifact_refresh" -> ((s, dir) =>
      streaming.ArtifactRefresh.gatedRefresh(s, dir)
        .orderBy(col("doc_id_a"), col("doc_id_b"))),
    // TWO refresh runs (separate checkpoints — batch ids restart at 0, the
    // run-identity guard) with the nightly artifact COMPACTION between them
    // (r16): merging replay-dead keyed files and pruning dead markers must
    // be invisible to the pair set, which equals the one-shot incremental
    // path over the union delta.
    "q_stream_refresh_compacted" -> ((s, dir) =>
      streaming.ArtifactRefresh.gatedCompactedRefresh(s, dir)
        .orderBy(col("doc_id_a"), col("doc_id_b"))),
    "q_dedup_simhash" -> ((s, dir) =>
      operators.Dedup.simhashPairs(
        Crm.table(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("doc_id_a"), col("doc_id_b"))),
    // Cluster/canonical assignment: pairwise near-dup output → per-document
    // keep/drop decision (cluster_id = min reachable doc id; the keeper is
    // the row with doc_id == cluster_id). Edges come from the minhash-LSH
    // pipeline — the edge set a production run actually materializes
    // (all-pairs jaccard is exactly what LSH exists to avoid).
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Dedup.connectedComponents(
        docs.select(col("doc_id")), "doc_id", lshPairs(s, dir), "doc_id_a", "doc_id_b")
        .orderBy(col("doc_id"))
    }),
    // Leakage-safe split: train/eval assignment keyed on the near-dup
    // CLUSTER (CC over the LSH pair set), so no eval doc has a train-side
    // near-duplicate — the Lee et al. cross-split contamination fix.
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Sampling.leakageSafeSplit(
        docs, "doc_id", lshPairs(s, dir), "doc_id_a", "doc_id_b", 0.8)
        .orderBy(col("doc_id"))
    }),
    // Salted big⋈big join: result is bit-identical to the plain join (the
    // salt is algebraically transparent), which is exactly why it gates.
    "q_skew_join" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{detRound, stableSumScaled}
      val j = operators.Skew.saltedEquiJoin(
        Crm.table(s, dir, "lineitem"), Crm.table(s, dir, "orders"), col("l_orderkey"), col("o_orderkey"), salt = 8)
      j.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          detRound(stableSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws FROM documents)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  len(list_intersect(a.ws, b.ws))::DOUBLE / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws))::DOUBLE / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.6
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // Transitive closure via recursive CTE over the minhash-LSH pair mirror
    // — tractable at oracle scale because near-dup clusters are LSH-verified
    // near-cliques; the engine side uses distributed min-label propagation.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
        |pr AS (SELECT doc_id_a AS da, doc_id_b AS db
        |       FROM (${O.minhashLshSql(k = 32, bands = 8, threshold = 0.6)})),
        |e AS (SELECT da AS s, db AS t FROM pr UNION SELECT db, da FROM pr),
        |reach(a, r) AS (SELECT doc_id, doc_id FROM documents
        |       UNION SELECT reach.a, e.t FROM reach JOIN e ON reach.r = e.s)
        |SELECT a AS doc_id, min(r) AS cluster_id FROM reach
        |GROUP BY a ORDER BY doc_id""".stripMargin,
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE
        |pr AS (SELECT doc_id_a AS da, doc_id_b AS db
        |       FROM (${O.minhashLshSql(k = 32, bands = 8, threshold = 0.6)})),
        |e AS (SELECT da AS s, db AS t FROM pr UNION SELECT db, da FROM pr),
        |reach(a, r) AS (SELECT doc_id, doc_id FROM documents
        |       UNION SELECT reach.a, e.t FROM reach JOIN e ON reach.r = e.s),
        |cl AS (SELECT a AS doc_id, min(r) AS cluster_id FROM reach GROUP BY a)
        |SELECT doc_id, cluster_id,
        | CASE WHEN ${sampleKeepSql("cluster_id", 0.8)} THEN 'train' ELSE 'eval' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,
    "q_skew_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
        | ${O.detRoundSql(O.stableSumScaledSql("l_extendedprice * (1 - l_discount)", 4), 2)} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_dedup_minhash" -> O.minhashLshSql(k = 32, bands = 8, threshold = 0.6),
    "q_dedup_incr" -> O.minhashLshIncrSql(k = 32, bands = 8, threshold = 0.6,
      deltaSel = c => s"$c % 4 = 0"),
    // artifact path is output-equivalent to the incremental operator by
    // construction (DedupSpec pins it) — gated against the SAME oracle
    "q_dedup_artifact" -> O.minhashLshIncrSql(k = 32, bands = 8, threshold = 0.6,
      deltaSel = c => s"$c % 4 = 0"),
    // the streamed refresh is output-equivalent to the one-shot delta path
    "q_stream_artifact_refresh" -> O.minhashLshIncrSql(k = 32, bands = 8,
      threshold = 0.6, deltaSel = c => s"$c % 4 = 0"),
    // two runs + compaction accumulate exactly the union-delta pair set
    "q_stream_refresh_compacted" -> O.minhashLshIncrSql(k = 32, bands = 8,
      threshold = 0.6, deltaSel = c => s"$c % 4 <= 1"),
    "q_dedup_simhash" -> O.simhashSql(maxHamming = 3))
}
