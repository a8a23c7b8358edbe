package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.truncUtc
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Sketches-family query registry. */
private[graft] object SketchesQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §7.5 round 5: deterministic sketches ------------------------------
    // Per-language HLL distinct-token estimate next to the exact count.
    "q_hll_distinct" -> ((s, dir) => {
      val tok = Crm.table(s, dir, "documents")
        .select(col("lang"), explode(operators.TextAnalysis.words(col("text"))).as("w"))
      operators.Sketches.hllDistinct(tok, col("lang"), col("w"))
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang"))
    }),
    // Count-min sketch estimates for the exact top-20 corpus terms.
    "q_heavy_hitters" -> ((s, dir) => {
      val tok = Crm.table(s, dir, "documents")
        .select(explode(operators.TextAnalysis.words(col("text"))).as("term"))
      operators.Sketches.cmsHeavyHitters(tok, col("term"), 20)
    }),
    // MOSS winnowing fingerprints: position-aware k-gram selections.
    "q_winnow" -> ((s, dir) =>
      operators.TextAnalysis.winnow(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("pos"), col("fp"))),
    // Vocabulary coverage curve via the distributed prefix sum — no global
    // window anywhere (Surrogate.rankedRunningTotal).
    "q_vocab_coverage" -> ((s, dir) =>
      operators.TextAnalysis.vocabCoverage(
        Crm.table(s, dir, "documents"), "doc_id", "text",
        Seq(0.5, 0.9, 0.99))),
    // Web-corpus rebalancing: keep at most 50 best docs per source domain.
    "q_domain_cap" -> ((s, dir) =>
      operators.Curation.capPerDomain(
        Crm.table(s, dir, "documents"), "doc_id", "text", "source", 50)
        .orderBy(col("domain"), col("rank_in_domain"))),
    // Join-key skew diagnostics over the fact join key.
    "q_key_skew" -> ((s, dir) =>
      operators.Olap.keySkewStats(Crm.table(s, dir, "lineitem"), col("l_orderkey"))),
    // Catalog-style column profile over the noisy cliente table.
    "q_column_profile" -> ((s, dir) =>
      operators.Quality.columnProfile(Crm.cliente(s, dir),
        Seq("nome_cliente", "idade", "genero", "id_categoria_cliente", "id_localidade"))
        .orderBy(col("column_name"))),
    // k-anonymity audit over (lang, source, length-bucket) quasi-identifiers.
    "q_k_anonymity" -> ((s, dir) =>
      operators.Quality.kAnonymity(
        Crm.table(s, dir, "documents"),
        Seq(col("lang"), col("source"),
          (col("n_chars") / 100).cast("long").as("len_bucket")), k = 5)
        .orderBy(col("lang"), col("source"), col("len_bucket"))),
    // l-diversity twin: groups must also span >= l distinct langs.
    "q_l_diversity" -> ((s, dir) =>
      operators.Quality.lDiversity(
        Crm.table(s, dir, "documents"),
        Seq(col("source"), (col("n_chars") / 200).cast("long").as("len_bucket")),
        col("lang"), l = 3)
        .orderBy(col("source"), col("len_bucket"))),
    // t-closeness: group lang-distributions within TV distance t of global.
    "q_t_closeness" -> ((s, dir) =>
      operators.Quality.tCloseness(
        Crm.table(s, dir, "documents"),
        Seq(col("source"), (col("n_chars") / 200).cast("long").as("len_bucket")),
        col("lang"), t = 0.25)
        .orderBy(col("source"), col("len_bucket"))),
    // Gini concentration of the docs-per-domain distribution.
    "q_domain_gini" -> ((s, dir) =>
      operators.Curation.domainConcentration(
        Crm.table(s, dir, "documents"), "source")),
    // Same cap via the O(k)-state TopKByScore aggregate (the mega-domain
    // scale path) — shares q_domain_cap's oracle: identical output.
    "q_domain_cap_agg" -> ((s, dir) =>
      operators.Curation.capPerDomainAgg(
        Crm.table(s, dir, "documents"), "doc_id", "text", "source", 50)
        .orderBy(col("domain"), col("rank_in_domain"))),
    // Trailing-24h z-score volume anomalies on the hourly event series.
    "q_zscore_anomaly" -> ((s, dir) =>
      operators.Events.zscoreAnomalies(Crm.table(s, dir, "events"))),
    // Asymmetric containment near-dups via DF-ordered prefix filtering.
    "q_containment" -> ((s, dir) =>
      operators.Dedup.containmentPairs(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id_a"), col("doc_id_b"))),
    // Hopping 2h/1h windows — each event in exactly two windows.
    "q_events_sliding" -> ((s, dir) =>
      operators.Events.slidingCounts(Crm.table(s, dir, "events"))
        .orderBy(col("win_start"), col("event_type"))),
    // Native session_window streaming sessionization (vs the custom
    // flatMapGroupsWithState form of q_stream_sessions).
    "q_stream_session_window" -> ((s, dir) => {
      streaming.EventsStream.runToCompletion(s, "q_stream_session_window_sink",
        org.apache.spark.sql.streaming.OutputMode.Append()) { ss =>
        streaming.EventsStream.sessionWindowAgg(
          streaming.EventsStream.readStoredEventsStream(ss, dir))
      }.orderBy(col("user_id"), col("session_start"))
    }),
    // HLL register merge: per-day estimate rolled up from hourly registers.
    "q_hll_merge" -> ((s, dir) =>
      // cast: both engines must md5 the same bytes — the decimal string form
      operators.Sketches.hllMergedDaily(Crm.table(s, dir, "events"), col("ts"),
        col("user_id").cast("string"))
        .orderBy(col("day"))),
    // Native bounded-state streaming dedup (keys only — arrival order
    // decides the winning payload, so only the key set is deterministic).
    "q_stream_dedup_wm" -> ((s, dir) => {
      streaming.EventsStream.runToCompletion(s, "q_stream_dedup_wm_sink",
        org.apache.spark.sql.streaming.OutputMode.Append()) { ss =>
        streaming.EventsStream.streamingDedupWithinWatermark(
          streaming.EventsStream.readStoredEventsStream(ss, dir))
      }.orderBy(col("user_id"), col("event_type"), col("minuto"))
    }),
    // Streaming hopping windows (complete mode == batch sliding counts).
    "q_stream_sliding" -> ((s, dir) => {
      streaming.EventsStream.runToCompletion(s, "q_stream_sliding_sink") { ss =>
        streaming.EventsStream.slidingCountsStream(
          streaming.EventsStream.readStoredEventsStream(ss, dir))
      }.orderBy(col("win_start"), col("event_type"))
    }),
    // One Lloyd refinement step over the IVF seed centroids.
    "q_kmeans_step" -> ((s, dir) =>
      operators.Similarity.kmeansStep(Crm.table(s, dir, "embeddings"))
        .orderBy(col("cell"), col("pos"))),
    // Lloyd's to a fixpoint (tol=0 ⇒ exactly 3 deterministic rounds, the
    // mode the DuckDB oracle unrolls); final centroids exploded per-element.
    "q_kmeans" -> ((s, dir) =>
      operators.Similarity.kmeans(Crm.table(s, dir, "embeddings"), maxIter = 3)
        .select(col("cell"), col("n_vectors"), posexplode(col("emb_cent")))
        .select(col("cell"), col("pos").cast("long").as("pos"),
          col("col").as("value"), col("n_vectors"))
        .orderBy(col("cell"), col("pos"))),
    // CDC apply: latest-wins snapshot from a synthesized I/U/D change log.
    "q_cdc_apply" -> ((s, dir) => {
      val o = Crm.table(s, dir, "orders")
      val ins = o.select(col("o_orderkey").as("k"), col("o_orderdate").as("vts"),
        lit("I").as("op"), col("o_totalprice").as("price"))
      val upd = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("vts"),
          lit("U").as("op"), (col("o_totalprice") + 100.0).as("price"))
      val del = o.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_orderdate") + expr("INTERVAL 2 DAY")).as("vts"),
          lit("D").as("op"), lit(0.0).as("price"))
      operators.Cdc.applyChangeLog(ins.unionAll(upd).unionAll(del),
        col("k"), col("vts"), col("op"))
        .select(col("k").as("o_orderkey"), col("vts").as("version_ts"),
          col("op"), col("price"))
        .orderBy(col("o_orderkey"))
    }),
    // Deterministic fixed-size per-language reservoir (eval-set carving).
    "q_reservoir" -> ((s, dir) =>
      operators.Sampling.reservoirPerGroup(
        Crm.table(s, dir, "documents"), col("doc_id"), col("lang"), 20)
        .select(col("group").as("lang"), col("rank"), col("key").as("doc_id"))
        .orderBy(col("lang"), col("rank"))),
    // Weekly cohort retention over events.
    "q_retention" -> ((s, dir) =>
      operators.Events.retention(Crm.table(s, dir, "events"))
        .orderBy(col("cohort_week"), col("age_weeks"))),
    // Incremental view maintenance: merged partial states == full aggregate.
    "q_incr_agg" -> ((s, dir) => {
      val o = Crm.table(s, dir, "orders")
      val split = lit("1995-01-01").cast("timestamp_ntz") // o_orderdate's type: no zone
      val base = operators.Incremental.revenueState(o.filter(col("o_orderdate") < split))
      val delta = operators.Incremental.revenueState(o.filter(col("o_orderdate") >= split))
      operators.Incremental.finish(operators.Incremental.merge(Seq(base, delta)))
        .orderBy(col("priority"), col("month"))
    }),
    // Data-quality audit over the dirty CRM inputs (one scan per table).
    "q_dq_report" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{isDateSentinel, keepRowForDate}
      operators.Quality.report(
        Map(
          "vendas" -> Crm.vendas(s, dir),
          "item_vendas" -> Crm.itemVendas(s, dir),
          "cliente" -> Crm.cliente(s, dir)),
        Seq(
          operators.Quality.Rule("unparseable_sale_date", "vendas",
            !keepRowForDate(col("data_venda"))),
          operators.Quality.Rule("sentinel_sale_date", "vendas",
            isDateSentinel(col("data_venda"))),
          operators.Quality.Rule("missing_customer_fk", "vendas",
            col("id_cliente").isNull || col("id_cliente") === 0),
          operators.Quality.Rule("nonpositive_quantity", "item_vendas",
            col("qtd_vendida").isNull || col("qtd_vendida") <= 0),
          operators.Quality.Rule("nonpositive_price", "item_vendas",
            col("preco_venda").isNull || col("preco_venda") <= 0),
          operators.Quality.Rule("blank_customer_name", "cliente",
            col("nome_cliente").isNull || col("nome_cliente") === ""),
          operators.Quality.Rule("missing_localidade_fk", "cliente",
            col("id_localidade").isNull)))
        .orderBy(col("rule"))
    }),
    // Time-RANGE window frame: trailing-3h sums over the hourly series
    // (RANGE, not ROWS — gaps in the series change the answer).
    "q_window_range_frame" -> ((s, dir) => {
      val hourly = Crm.table(s, dir, "events")
        .groupBy(col("event_type"), truncUtc("hour", col("ts")).as("hora"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(unix_timestamp(col("hora")))
        .rangeBetween(-10800, 0)
      hourly.withColumn("trail_3h_events", sum(col("n_events")).over(w))
        .orderBy(col("event_type"), col("hora"))
    }),
    // Percent-of-total (ratio_to_report) via a broadcast grand total — the
    // scale-safe form (no global window over data rows).
    "q_share" -> ((s, dir) => {
      import graft.functions.GraftFunctions.{detRound, stableSum2}
      val seg = Crm.table(s, dir, "customer").groupBy(col("c_mktsegment"))
        .agg(stableSum2(col("c_acctbal")).as("seg_balance"),
          count(lit(1)).as("n_customers"))
      // decimal re-cast: the 5-row total must not depend on float sum order
      val total = seg.agg(
        sum(col("seg_balance").cast("decimal(18,2)")).cast("double").as("total_balance"))
      seg.crossJoin(broadcast(total))
        .withColumn("share", detRound(col("seg_balance") / col("total_balance"), 6))
        .select(col("c_mktsegment"), col("n_customers"), col("seg_balance"), col("share"))
        .orderBy(col("c_mktsegment"))
    }),
    // Native session_window in BATCH mode (same operator as the stream).
    "q_session_batch" -> ((s, dir) =>
      Crm.table(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),
    // Rebalance to a target mix: data-dependent per-language fractions.
    "q_mix_rebalance" -> ((s, dir) =>
      operators.Sampling.rebalanceToTarget(
        Crm.table(s, dir, "documents"), col("doc_id"), col("lang"), 60)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // Deterministic Poisson bootstrap: 16 replicates of mean(o_totalprice).
    "q_bootstrap" -> ((s, dir) =>
      operators.Sampling.poissonBootstrap(
        Crm.table(s, dir, "orders"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("r"))),
    // Temperature-scaled mixture sampling (XLM-R α=0.5 via exact sqrt).
    "q_temperature_mix" -> ((s, dir) =>
      operators.Sampling.temperatureMix(
        Crm.table(s, dir, "documents"), col("doc_id"), col("lang"), 150)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    // Weighted Bernoulli sample: inclusion probability ∝ document length.
    "q_weighted_sample" -> ((s, dir) =>
      operators.Sampling.weightedSample(
        Crm.table(s, dir, "documents"), col("doc_id"), col("n_chars"),
        targetFraction = 0.8)
        .select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))),
    // Leakage-safe group k-fold: a domain never straddles folds.
    "q_group_kfold" -> ((s, dir) =>
      operators.Sampling.groupKFold(
        Crm.table(s, dir, "documents").select(col("doc_id"), col("source")),
        col("source"), 5)
        .orderBy(col("doc_id"))),
    // Duplicate-span fraction: per doc, share of 5-gram hashes seen in ≥2 docs.
    "q_dup_span" -> ((s, dir) =>
      operators.Dedup.duplicateSpanStats(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // Exact duplicated-substring spans (ExactSubstr, Lee et al. 2022):
    // bounded prefix-doubling suffix ranks — hash-free, exact at any scale.
    "q_exact_substr" -> ((s, dir) =>
      operators.Dedup.exactSubstrSpans(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // The ExactSubstr cleaning transform: duplicated spans cut out of the
    // corpus, canonical-form reconstruction of the survivors.
    "q_exact_substr_clean" -> ((s, dir) =>
      operators.Dedup.exactSubstrClean(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // Sorted-neighborhood entity resolution (Hernández & Stolfo 1995):
    // N·w candidates by construction, codegen Jaro-Winkler comparator.
    "q_er_neighborhood" -> ((s, dir) =>
      operators.Linkage.sortedNeighborhood(Crm.table(s, dir, "part"), "p_partkey", "p_name")
        .orderBy(col("id1"), col("id2"))),
    // Exact edit-distance near-dup pairs via PassJoin segment pigeonhole,
    // over DISTINCT names (min-key representative) of parts plus
    // deterministically-perturbed copies (4th char cut). Exact repeats are
    // an exact-dedup problem; collapsing them first is what keeps the
    // pair space vocabulary-bounded as the corpus grows (this table keeps
    // 64 distinct names at every sf — raw pairs would grow ~100x/decade).
    "q_edit_neardup" -> ((s, dir) => {
      val base = Crm.table(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val dirty = base.filter(pmod(col("p_partkey"), lit(10)) === 0)
        .select((col("p_partkey") + 10000000L).as("p_partkey"),
          concat(substring(col("p_name"), 1, 3),
            expr("substring(p_name, 5)")).as("p_name"))
      val distinctNames = base.union(dirty).groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("p_partkey"))
      operators.Linkage.editNearDup(distinctNames, "p_partkey", "p_name")
        .orderBy(col("id1"), col("id2"))
    }),
    // CCNet-style head/middle/tail LM quality terciles.
    "q_lm_bucket" -> ((s, dir) =>
      operators.TextAnalysis.lmQualityBuckets(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // Hashed-feature linear scorer: fastText-filter plumbing, margin + keep.
    "q_logreg_score" -> ((s, dir) =>
      operators.TextAnalysis.hashLinearScore(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // TRAINED quality classifier: distributed batch perceptron over hashed
    // unigram features, weak-supervised by the lang-id heuristic — the
    // learned weight table q_logreg_score's doc promises.
    "q_quality_train" -> ((s, dir) =>
      operators.TextAnalysis.perceptronTrain(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("bucket"))),
    // The trained classifier's consumer: the corpus filtered by the learned
    // weights (integer-exact margins, keep = margin > 0).
    "q_quality_filter" -> ((s, dir) =>
      operators.TextAnalysis.perceptronScore(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // The persisted-model lifecycle: the trained weight table written ONCE,
    // the corpus scored from the artifact (inference only — no labels, no
    // training loop) — output-equal to q_quality_filter, same oracle.
    "q_quality_artifact" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      val art = tempDir("quality_model")
      operators.TextAnalysis.writeQualityModel(docs, "doc_id", "text", art)
      operators.TextAnalysis.perceptronScoreWithModel(docs, "doc_id", "text", art)
        .orderBy(col("doc_id"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_hll_distinct" ->
      s"""WITH tok0 AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |tok AS (SELECT lang, w FROM tok0 WHERE w IS NOT NULL),
        |h AS (SELECT lang, w, ${O.hash60Sql("w")} AS h FROM tok),
        |r AS (SELECT lang, h % 64 AS bucket,
        |        CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
        |      FROM h),
        |regs AS (SELECT lang, bucket, max(rho) AS m FROM r GROUP BY lang, bucket),
        |sums AS (SELECT lang, count(*) AS npres,
        |           CAST(sum(1::BIGINT << (55 - m)) AS BIGINT) AS sp FROM regs GROUP BY lang),
        |sv AS (SELECT lang, sp + (64 - npres) * (1::BIGINT << 55) AS s,
        |         CAST(64 - npres AS BIGINT) AS n_empty_buckets FROM sums),
        |ex AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
        |       FROM tok GROUP BY lang)
        |SELECT ex.lang, exact_distinct,
        |  ${O.detRoundSql(
             "0.7213 / (1.0 + 1.079 / 64.0) * 4096.0 * 36028797018963968.0 / CAST(s AS DOUBLE)", 2)} AS hll_est,
        |  n_empty_buckets
        |FROM ex JOIN sv ON ex.lang = sv.lang ORDER BY ex.lang""".stripMargin,
    "q_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |cells AS (SELECT r, ${O.hash60Sql("'cms' || CAST(r AS VARCHAR) || '|' || term")} % 256 AS c
        |          FROM t, unnest([0,1,2,3]) u(r)),
        |sketch AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY r, c),
        |topk AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt FROM t GROUP BY term
        |         ORDER BY exact_cnt DESC, term LIMIT 20),
        |probes AS (SELECT term, exact_cnt, r,
        |             ${O.hash60Sql("'cms' || CAST(r AS VARCHAR) || '|' || term")} % 256 AS c
        |           FROM topk, unnest([0,1,2,3]) u(r)),
        |est AS (SELECT term, exact_cnt, min(cnt) AS cms_est
        |        FROM probes JOIN sketch USING (r, c) GROUP BY term, exact_cnt)
        |SELECT term, exact_cnt, cms_est, cms_est - exact_cnt AS overestimate
        |FROM est ORDER BY exact_cnt DESC, term""".stripMargin,
    "q_winnow" ->
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [text]
        |        ELSE list_transform(range(1, len(ws) - 1),
        |               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS gs FROM w),
        |h AS (SELECT doc_id, list_transform(gs, x -> ${O.hash60Sql("x")}) AS hs FROM g)
        |SELECT DISTINCT doc_id,
        |  CAST(i + list_position(hs[i:i+3], list_min(hs[i:i+3])) - 1 AS BIGINT) AS pos,
        |  list_min(hs[i:i+3]) AS fp
        |FROM h, unnest(range(1, greatest(len(hs) - 3, 1) + 1)) u(i)
        |ORDER BY doc_id, pos, fp""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
        |r AS (SELECT cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS vrank,
        |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM tc),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tc),
        |lv AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS lvl)
        |SELECT lvl AS "level", CAST(min(vrank) AS BIGINT) AS vocab_size,
        |  CAST(min(cum) AS BIGINT) AS tokens_covered,
        |  CAST(max(tt.total_tokens) AS BIGINT) AS total_tokens,
        |  ${O.detRoundSql("CAST(min(cum) AS DOUBLE) / max(tt.total_tokens)", 6)} AS coverage
        |FROM r, tot tt, lv
        |WHERE CAST(cum AS DOUBLE) / tt.total_tokens >= lvl
        |GROUP BY lvl ORDER BY "level"""".stripMargin,
    "q_domain_cap" -> domainCapOracle,
    "q_key_skew" ->
      s"""WITH f AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS freq
        |           FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(freq) AS BIGINT) AS n_rows,
        |  CAST(max(freq) AS BIGINT) AS max_freq,
        |  ${O.detRoundSql("quantile_cont(freq, 0.5)", 4)} AS p50_freq,
        |  ${O.detRoundSql("quantile_cont(freq, 0.99)", 4)} AS p99_freq,
        |  ${O.detRoundSql("CAST(max(freq) AS DOUBLE) * count(*) / sum(freq)", 4)} AS skew_ratio
        |FROM f""".stripMargin,
    "q_k_anonymity" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(5 AS BIGINT) AS k_threshold,
        |  count(*) < 5 AS at_risk
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_bucket""".stripMargin,
    "q_l_diversity" ->
      """SELECT source, n_chars // 200 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
        |  CAST(3 AS BIGINT) AS l_threshold,
        |  count(DISTINCT lang) < 3 AS at_risk
        |FROM documents GROUP BY 1, 2
        |ORDER BY source, len_bucket""".stripMargin,
    "q_t_closeness" ->
      s"""WITH gv AS (SELECT source, n_chars // 200 AS len_bucket, lang,
        |        CAST(count(*) AS BIGINT) AS c_gv
        |      FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT source, len_bucket, CAST(sum(c_gv) AS BIGINT) AS n_g
        |      FROM gv GROUP BY 1, 2),
        |v AS (SELECT lang, CAST(sum(c_gv) AS BIGINT) AS c_v FROM gv GROUP BY 1),
        |n AS (SELECT CAST(sum(c_v) AS BIGINT) AS n_total FROM v),
        |grid AS (SELECT g.source, g.len_bucket, g.n_g, v.lang, v.c_v,
        |        COALESCE(gv.c_gv, 0) AS c_gv
        |      FROM g CROSS JOIN v LEFT JOIN gv
        |        ON gv.source = g.source AND gv.len_bucket = g.len_bucket
        |        AND gv.lang = v.lang),
        |s AS (SELECT source, len_bucket, n_g,
        |        sum(abs(CAST(c_gv AS HUGEINT) * n_total
        |          - CAST(c_v AS HUGEINT) * n_g)) AS num,
        |        max(n_total) AS n_total
        |      FROM grid, n GROUP BY 1, 2, 3),
        |z AS (SELECT source, len_bucket, n_g AS n_rows,
        |        ${O.detRoundSql("CAST(num AS DOUBLE) / (2.0 * n_g * n_total)", 4)} AS tv
        |      FROM s)
        |SELECT source, len_bucket, n_rows, tv,
        |  CAST(0.25 AS DOUBLE) AS t_threshold, tv > 0.25 AS at_risk
        |FROM z ORDER BY source, len_bucket""".stripMargin,
    "q_column_profile" -> O.withCrm(
      s"""SELECT * FROM (
        |SELECT 'nome_cliente' AS column_name, n_rows, n_rows - nn0 AS n_nulls,
        |       nd0 AS n_distinct, ${O.detRoundSql("CAST(n_rows - nn0 AS DOUBLE) / n_rows", 4)} AS null_rate FROM a
        |UNION ALL SELECT 'idade', n_rows, n_rows - nn1, nd1,
        |       ${O.detRoundSql("CAST(n_rows - nn1 AS DOUBLE) / n_rows", 4)} FROM a
        |UNION ALL SELECT 'genero', n_rows, n_rows - nn2, nd2,
        |       ${O.detRoundSql("CAST(n_rows - nn2 AS DOUBLE) / n_rows", 4)} FROM a
        |UNION ALL SELECT 'id_categoria_cliente', n_rows, n_rows - nn3, nd3,
        |       ${O.detRoundSql("CAST(n_rows - nn3 AS DOUBLE) / n_rows", 4)} FROM a
        |UNION ALL SELECT 'id_localidade', n_rows, n_rows - nn4, nd4,
        |       ${O.detRoundSql("CAST(n_rows - nn4 AS DOUBLE) / n_rows", 4)} FROM a
        |) ORDER BY column_name""".stripMargin,
      extra = Seq("a" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
          | CAST(count(nome_cliente) AS BIGINT) AS nn0, CAST(count(DISTINCT nome_cliente) AS BIGINT) AS nd0,
          | CAST(count(idade) AS BIGINT) AS nn1, CAST(count(DISTINCT idade) AS BIGINT) AS nd1,
          | CAST(count(genero) AS BIGINT) AS nn2, CAST(count(DISTINCT genero) AS BIGINT) AS nd2,
          | CAST(count(id_categoria_cliente) AS BIGINT) AS nn3, CAST(count(DISTINCT id_categoria_cliente) AS BIGINT) AS nd3,
          | CAST(count(id_localidade) AS BIGINT) AS nn4, CAST(count(DISTINCT id_localidade) AS BIGINT) AS nd4
          |FROM cliente""".stripMargin)),
    "q_domain_gini" ->
      s"""WITH c AS (SELECT source AS domain, CAST(count(*) AS BIGINT) AS cnt
        |           FROM documents GROUP BY 1),
        |r AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt, domain) AS BIGINT) AS rnk
        |      FROM c),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS tot,
        |        CAST(sum(rnk * cnt) AS BIGINT) AS s FROM r)
        |SELECT n AS n_domains, tot AS total_docs,
        |  ${O.detRoundSql(
             "(2.0 * CAST(s AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(tot AS DOUBLE))" +
               " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))", 6)} AS gini
        |FROM a""".stripMargin,
    // aggregate-form scale path: the SAME oracle value, not a copy
    "q_domain_cap_agg" -> domainCapOracle,
    "q_zscore_anomaly" ->
      s"""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hora,
        |             CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hora, n_events,
        |        count(*) OVER tw AS n_trail,
        |        CAST(sum(n_events) OVER tw AS BIGINT) AS s1,
        |        sum(CAST(n_events AS HUGEINT) * n_events) OVER tw AS s2
        |      FROM c WINDOW tw AS (PARTITION BY event_type ORDER BY hora
        |              ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT event_type, hora, n_events,
        |        CAST(s1 AS DOUBLE) / 24 AS mean,
        |        CAST(24 * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / 576 AS variance
        |      FROM w WHERE n_trail = 24),
        |z AS (SELECT event_type, hora, n_events, ${O.detRoundSql("mean", 4)} AS trail_mean,
        |        ${O.detRoundSql("(CAST(n_events AS DOUBLE) - mean) / sqrt(variance)", 4)} AS z
        |      FROM v WHERE variance > 0)
        |SELECT event_type, hora, n_events, trail_mean, z
        |FROM z ORDER BY abs(z) DESC, event_type, hora LIMIT 50""".stripMargin,
    "q_hll_merge" ->
      s"""WITH rws AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, user_id,
        |        ${O.hash60Sql("CAST(user_id AS VARCHAR)")} AS h FROM events
        |      WHERE user_id IS NOT NULL),
        |r AS (SELECT d, user_id, h % 64 AS bucket,
        |        CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho
        |      FROM rws),
        |regs AS (SELECT d, bucket, max(rho) AS m FROM r GROUP BY d, bucket),
        |sums AS (SELECT d, count(*) AS npres,
        |           CAST(sum(1::BIGINT << (55 - m)) AS BIGINT) AS sp FROM regs GROUP BY d),
        |sv AS (SELECT d, sp + (64 - npres) * (1::BIGINT << 55) AS s,
        |         CAST(64 - npres AS BIGINT) AS n_empty_buckets FROM sums),
        |ex AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |       FROM rws GROUP BY d)
        |SELECT ex.d AS "day", exact_distinct,
        |  ${O.detRoundSql(
             "0.7213 / (1.0 + 1.079 / 64.0) * 4096.0 * 36028797018963968.0 / CAST(s AS DOUBLE)", 2)} AS hll_est,
        |  n_empty_buckets
        |FROM ex JOIN sv ON ex.d = sv.d ORDER BY ex.d""".stripMargin,
    "q_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type,
        |  CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minuto
        |FROM events ORDER BY user_id, event_type, minuto""".stripMargin,
    "q_stream_sliding" ->
      """WITH x AS (SELECT event_type,
        |             date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS win_start
        |           FROM events, unnest([0, 1]) u(o))
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q_mix_rebalance" ->
      s"""WITH f AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |c AS (SELECT lang,
        |        CAST(floor(least(1.0, 60.0 / n) * 1152921504606846976.0) AS BIGINT) AS cut
        |      FROM f)
        |SELECT doc_id, d.lang FROM documents d JOIN c ON d.lang = c.lang
        |WHERE ${O.hash60Sql("CAST(doc_id AS VARCHAR)")} < cut
        |ORDER BY doc_id""".stripMargin,
    "q_bootstrap" -> {
      val u = O.hash60Sql("CAST(o_orderkey AS VARCHAR) || '#' || CAST(r AS VARCHAR)")
      val w = operators.Sampling.PoissonCuts
        .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH rep AS (SELECT r, CAST(o_totalprice AS DECIMAL(18,2)) AS v, $u AS u
        |      FROM orders, range(0, 16) t(r)),
        |wtd AS (SELECT r, v, $w AS w FROM rep),
        |g AS (SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
        |        CAST(sum(w * v) AS DOUBLE) AS total
        |      FROM wtd GROUP BY r)
        |SELECT CAST(r AS BIGINT) AS r, n_eff, total,
        |  CASE WHEN n_eff = 0 THEN 0.0
        |       ELSE ${O.detRoundSql("total / n_eff", 4)} END AS mean
        |FROM g ORDER BY r""".stripMargin
    },
    "q_temperature_mix" ->
      s"""WITH f AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS sw FROM f),
        |t AS (SELECT CAST(sum(sw) AS BIGINT) AS s FROM w),
        |c AS (SELECT lang,
        |        CAST(floor(least(1.0, CAST(150 * sw AS DOUBLE) / (CAST(s AS DOUBLE) * n))
        |               * 1152921504606846976.0) AS BIGINT) AS cut
        |      FROM w, t)
        |SELECT doc_id, d.lang FROM documents d JOIN c ON d.lang = c.lang
        |WHERE ${O.hash60Sql("CAST(doc_id AS VARCHAR)")} < cut
        |ORDER BY doc_id""".stripMargin,
    "q_group_kfold" ->
      s"""SELECT doc_id, source, ${O.hash60Sql("source")} % 5 AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH m AS (SELECT max(CAST(n_chars AS DOUBLE)) AS wmax FROM documents)
        |SELECT doc_id, n_chars FROM documents, m
        |WHERE ${O.hash60Sql("CAST(doc_id AS VARCHAR)")} <
        |  CAST(floor(0.8 * (CAST(n_chars AS DOUBLE) / wmax)
        |    * 1152921504606846976.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,
    "q_dup_span" ->
      s"""WITH sh AS (SELECT doc_id,
        |        list_distinct(${O.shinglesKSql("text", 5)}) AS sh FROM documents),
        |g AS (SELECT doc_id, ${O.hash60Sql("s")} AS h
        |      FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, count(*) AS n_dup FROM g
        |      WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
        |r AS (SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_grams,
        |        CAST(COALESCE(m.n_dup, 0) AS BIGINT) AS n_dup,
        |        CASE WHEN len(s.sh) = 0 THEN 0.0
        |             ELSE ${O.detRoundSql("COALESCE(m.n_dup, 0)::DOUBLE / len(s.sh)", 4)}
        |        END AS dup_fraction
        |      FROM sh s LEFT JOIN m ON s.doc_id = m.doc_id)
        |SELECT doc_id, n_grams, n_dup, dup_fraction,
        |  (dup_fraction >= 0.5) AS flagged
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_exact_substr" ->
      s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(text, '${operators.TextAnalysis.TokenPattern}') AS l
        |      FROM documents),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i:i+19] AS gram
        |      FROM t, unnest(range(1, len(l) + 1)) u(i)
        |      WHERE i + 19 <= len(l)),
        |dp AS (SELECT doc_id, pos FROM (
        |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM p)
        |      WHERE c >= 2),
        |isl AS (SELECT doc_id, pos,
        |         max(pos + 20) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxend
        |        FROM dp),
        |isl2 AS (SELECT doc_id, pos,
        |         sum(CASE WHEN maxend IS NULL OR pos > maxend THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |        FROM isl),
        |cov AS (SELECT doc_id, isl, max(pos) + 20 - min(pos) AS cov
        |        FROM isl2 GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
        |          CAST(sum(cov) AS BIGINT) AS dup_tokens,
        |          CAST(max(cov) AS BIGINT) AS longest_span
        |        FROM cov GROUP BY 1),
        |nt AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens FROM t)
        |SELECT nt.doc_id AS doc_id, n_tokens,
        |  CAST(COALESCE(n_islands, 0) AS BIGINT) AS n_islands,
        |  CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(COALESCE(longest_span, 0) AS BIGINT) AS longest_span,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |       ELSE ${O.detRoundSql("COALESCE(dup_tokens, 0)::DOUBLE / n_tokens", 4)}
        |  END AS dup_frac
        |FROM nt LEFT JOIN per ON nt.doc_id = per.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_exact_substr_clean" ->
      s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(text, '${operators.TextAnalysis.TokenPattern}') AS l
        |      FROM documents),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i:i+19] AS gram
        |      FROM t, unnest(range(1, len(l) + 1)) u(i)
        |      WHERE i + 19 <= len(l)),
        |dp AS (SELECT doc_id, pos FROM (
        |        SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c FROM p)
        |      WHERE c >= 2),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i] AS tok
        |        FROM t, unnest(range(1, len(l) + 1)) u(i)),
        |m AS (SELECT tok.doc_id, tok.pos, tok.tok, d.dupend
        |      FROM tok LEFT JOIN
        |        (SELECT doc_id, pos, pos + 20 AS dupend FROM dp) d
        |        USING (doc_id, pos)),
        |c AS (SELECT doc_id, pos, tok,
        |        max(dupend) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS covend
        |      FROM m),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |          CAST(sum(CASE WHEN covend IS NULL OR pos >= covend
        |                        THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |          string_agg(CASE WHEN covend IS NULL OR pos >= covend
        |                          THEN tok END, ' ' ORDER BY pos) AS clean_text
        |        FROM c GROUP BY 1)
        |SELECT d.doc_id AS doc_id,
        |  COALESCE(n_tokens, 0) AS n_tokens,
        |  COALESCE(n_removed, 0) AS n_removed,
        |  COALESCE(clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_er_neighborhood" ->
      s"""WITH r AS (SELECT p_partkey AS id, p_name AS name,
        |        row_number() OVER (ORDER BY p_name, p_partkey) AS rk
        |      FROM part),
        |c AS (SELECT a.id AS id1, b.id AS id2, a.name AS name1,
        |        b.name AS name2,
        |        jaro_winkler_similarity(a.name, b.name) AS s
        |      FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 5)
        |SELECT id1, id2, name1, name2, ${O.detRoundSql("s", 4)} AS sim
        |FROM c WHERE s >= 0.9
        |ORDER BY id1, id2""".stripMargin,
    "q_edit_neardup" ->
      s"""WITH raw AS (
        |  SELECT p_partkey AS id, p_name AS name FROM part
        |  UNION ALL
        |  SELECT p_partkey + 10000000, p_name[1:3] || p_name[5:]
        |  FROM part WHERE p_partkey % 10 = 0),
        |corpus AS (SELECT name, min(id) AS id FROM raw GROUP BY 1),
        |pairs AS (SELECT a.id AS id1, b.id AS id2,
        |    a.name AS name1, b.name AS name2,
        |    levenshtein(a.name, b.name) AS d
        |  FROM corpus a JOIN corpus b
        |    ON a.id < b.id AND abs(len(a.name) - len(b.name)) <= 2)
        |SELECT id1, id2, name1, name2, CAST(d AS BIGINT) AS dist
        |FROM pairs WHERE d <= 2
        |ORDER BY id1, id2""".stripMargin,
    "q_lm_bucket" ->
      s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(text, '${operators.TextAnalysis.TokenPattern}') AS l
        |      FROM documents),
        |tok AS (SELECT doc_id, i, lower(l[i]) AS w
        |        FROM t, unnest(range(1, len(l) + 1)) u(i)),
        |b AS (SELECT doc_id, w AS w1,
        |        lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM tok),
        |bg AS (SELECT doc_id, w1, w2 FROM b WHERE w2 IS NOT NULL),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bigram
        |       FROM bg GROUP BY 1, 2),
        |cl AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_w1 FROM cb GROUP BY 1),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(sum(CAST(floor(c_bigram::DOUBLE / c_w1 * 1e6) AS BIGINT))
        |           AS BIGINT) AS sq
        |       FROM bg JOIN cb USING (w1, w2) JOIN cl USING (w1) GROUP BY doc_id),
        |a AS (SELECT d.doc_id,
        |        CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |        COALESCE(CAST(sc.sq AS DOUBLE) / sc.n_bigrams, 0.0) AS score
        |      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |cuts AS (SELECT quantile_cont(score, CAST(1 AS DOUBLE) / 3) AS t1,
        |                quantile_cont(score, CAST(2 AS DOUBLE) / 3) AS t2 FROM a)
        |SELECT doc_id, n_bigrams, ${O.detRoundSql("score", 4)} AS score,
        |  CASE WHEN score > t2 THEN 'head'
        |       WHEN score > t1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM a, cuts ORDER BY doc_id""".stripMargin,
    "q_logreg_score" ->
      s"""WITH t AS (SELECT doc_id,
        |        regexp_extract_all(text, '${operators.TextAnalysis.TokenPattern}') AS l
        |      FROM documents),
        |tok AS (SELECT doc_id, lower(l[i]) AS w
        |        FROM t, unnest(range(1, len(l) + 1)) u(i)),
        |f AS (SELECT doc_id, ${O.hash60Sql("w")} % 1024 AS bucket,
        |        CAST(count(*) AS BIGINT) AS f
        |      FROM tok GROUP BY 1, 2),
        |m AS (SELECT doc_id,
        |        CAST(sum(f * (${O.hash60Sql("'w' || CAST(bucket AS VARCHAR)")} % 2001 - 1000))
        |          AS BIGINT) AS m,
        |        CAST(sum(f) AS BIGINT) AS n_tokens
        |      FROM f GROUP BY doc_id),
        |r AS (SELECT doc_id, n_tokens,
        |        ${O.detRoundSql("CAST(m AS DOUBLE) / (n_tokens * 1000.0)", 6)} AS margin
        |      FROM m)
        |SELECT doc_id, n_tokens, margin, (margin >= 0.0) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_quality_train" -> O.perceptronTrainChainSql(256, 5),
    "q_quality_filter" -> O.perceptronScoreChainSql(256, 5),
    // persisted-model inference is output-equal to train+score (same
    // weights by construction) — same oracle
    "q_quality_artifact" -> O.perceptronScoreChainSql(256, 5),
    "q_window_range_frame" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hora,
        |             CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, hora, n_events,
        |  CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY hora
        |       RANGE BETWEEN INTERVAL 3 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS trail_3h_events
        |FROM c ORDER BY event_type, hora""".stripMargin,
    "q_share" ->
      s"""WITH seg AS (SELECT c_mktsegment,
        |        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS seg_balance,
        |        CAST(count(*) AS BIGINT) AS n_customers
        |      FROM customer GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(seg_balance AS DECIMAL(18,2))) AS DOUBLE)
        |        AS total_balance FROM seg)
        |SELECT c_mktsegment, n_customers, seg_balance,
        |  ${O.detRoundSql("seg_balance / total_balance", 6)} AS share
        |FROM seg, t ORDER BY c_mktsegment""".stripMargin,
    "q_session_batch" ->
      s"""WITH $sessionWindowCtes
        |SELECT user_id, session_start, session_end, n_events
        |FROM s ORDER BY user_id, session_start""".stripMargin,
    "q_retention" ->
      """WITH w AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id),
        |s AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |      FROM c GROUP BY 1),
        |j AS (SELECT c.cohort_week,
        |        CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT) AS age_weeks
        |      FROM w JOIN c ON w.user_id = c.user_id),
        |g AS (SELECT cohort_week, age_weeks, CAST(count(*) AS BIGINT) AS n_users
        |      FROM j GROUP BY 1, 2)
        |SELECT g.cohort_week, g.age_weeks, g.n_users, s.cohort_size,
        |  floor((CAST(g.n_users AS DOUBLE) / s.cohort_size) * 10000.0 + 0.5) / 10000.0
        |    AS retention_pct
        |FROM g JOIN s USING (cohort_week)
        |ORDER BY cohort_week, age_weeks""".stripMargin,
    "q_incr_agg" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY priority, month""".stripMargin,
    "q_dq_report" -> O.withCrm(
      s"""SELECT * FROM (
        |SELECT 'unparseable_sale_date' AS rule, 'vendas' AS table_name, n_rows,
        |       v_unparse AS n_violations,
        |       ${O.detRoundSql("CAST(v_unparse AS DOUBLE) / n_rows", 4)} AS violation_rate
        |FROM va
        |UNION ALL
        |SELECT 'sentinel_sale_date', 'vendas', n_rows, v_sent,
        |       ${O.detRoundSql("CAST(v_sent AS DOUBLE) / n_rows", 4)} FROM va
        |UNION ALL
        |SELECT 'missing_customer_fk', 'vendas', n_rows, v_fk,
        |       ${O.detRoundSql("CAST(v_fk AS DOUBLE) / n_rows", 4)} FROM va
        |UNION ALL
        |SELECT 'nonpositive_quantity', 'item_vendas', n_rows, v_qty,
        |       ${O.detRoundSql("CAST(v_qty AS DOUBLE) / n_rows", 4)} FROM iv
        |UNION ALL
        |SELECT 'nonpositive_price', 'item_vendas', n_rows, v_price,
        |       ${O.detRoundSql("CAST(v_price AS DOUBLE) / n_rows", 4)} FROM iv
        |UNION ALL
        |SELECT 'blank_customer_name', 'cliente', n_rows, v_name,
        |       ${O.detRoundSql("CAST(v_name AS DOUBLE) / n_rows", 4)} FROM cl
        |UNION ALL
        |SELECT 'missing_localidade_fk', 'cliente', n_rows, v_loc,
        |       ${O.detRoundSql("CAST(v_loc AS DOUBLE) / n_rows", 4)} FROM cl
        |) ORDER BY rule""".stripMargin,
      extra = Seq(
        "va" ->
          s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
            | CAST(count(CASE WHEN NOT ${O.keepRowSql("data_venda")} THEN 1 END) AS BIGINT) AS v_unparse,
            | CAST(count(CASE WHEN ${O.isSentinelSql("data_venda")} THEN 1 END) AS BIGINT) AS v_sent,
            | CAST(count(CASE WHEN id_cliente IS NULL OR id_cliente = 0 THEN 1 END) AS BIGINT) AS v_fk
            |FROM vendas""".stripMargin,
        "iv" ->
          """SELECT CAST(count(*) AS BIGINT) AS n_rows,
            | CAST(count(CASE WHEN qtd_vendida IS NULL OR qtd_vendida <= 0 THEN 1 END) AS BIGINT) AS v_qty,
            | CAST(count(CASE WHEN preco_venda IS NULL OR preco_venda <= 0 THEN 1 END) AS BIGINT) AS v_price
            |FROM item_vendas""".stripMargin,
        "cl" ->
          """SELECT CAST(count(*) AS BIGINT) AS n_rows,
            | CAST(count(CASE WHEN nome_cliente IS NULL OR nome_cliente = '' THEN 1 END) AS BIGINT) AS v_name,
            | CAST(count(CASE WHEN id_localidade IS NULL THEN 1 END) AS BIGINT) AS v_loc
            |FROM cliente""".stripMargin)),
    "q_kmeans_step" -> O.kmeansStepSql(40),
    "q_kmeans" -> O.kmeansChainSql(40, 3),
    "q_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_orderkey AS k, o_orderdate AS vts, 'I' AS op, o_totalprice AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderdate + INTERVAL 1 DAY, 'U', o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderdate + INTERVAL 2 DAY, 'D', 0.0
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |r AS (SELECT k, vts, op, price,
        |        row_number() OVER (PARTITION BY k ORDER BY vts DESC) AS rn FROM log)
        |SELECT k AS o_orderkey, vts AS version_ts, op, price
        |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin,
    "q_reservoir" ->
      s"""WITH h AS (SELECT lang, doc_id,
        |             ${O.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
        |r AS (SELECT lang, doc_id,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rank
        |      FROM h)
        |SELECT lang, rank, doc_id FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
    "q_containment" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${O.shingles3Sql("text")}) AS sh FROM documents),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |dfx AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY s),
        |rk AS (SELECT doc_id, s,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rn,
        |         count(*) OVER (PARTITION BY doc_id) AS n
        |       FROM ex JOIN dfx USING (s)),
        |probe AS (SELECT doc_id AS a, s FROM rk WHERE rn <= ((10 - 9) * n) // 10 + 1),
        |cand AS (SELECT DISTINCT p.a, e.doc_id AS b
        |         FROM probe p JOIN ex e USING (s) WHERE p.a <> e.doc_id),
        |cont AS (SELECT a AS doc_id_a, b AS doc_id_b,
        |           ${O.detRoundSql(
                      "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh)", 4)} AS containment
        |         FROM cand JOIN sh sa ON cand.a = sa.doc_id
        |                   JOIN sh sb ON cand.b = sb.doc_id)
        |SELECT doc_id_a, doc_id_b, containment FROM cont WHERE containment >= 0.9
        |ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "q_events_sliding" ->
      """WITH x AS (SELECT event_type, user_id,
        |             date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS win_start
        |           FROM events, unnest([0, 1]) u(o))
        |SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // Watermark mirrors Spark's MILLISECOND-grained tracker: the max event
    // time is floored to ms before the 2h delay is subtracted (a raw
    // micro-precision max(ts) would disagree in a sub-ms band).
    "q_stream_session_window" ->
      s"""WITH $sessionWindowCtes
        |SELECT user_id, session_start, session_end, n_events
        |FROM s, (SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 2 HOUR AS wm
        |         FROM events) m
        |WHERE session_end < wm
        |ORDER BY user_id, session_start""".stripMargin)
}
