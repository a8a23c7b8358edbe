package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Curation-family query registry. */
private[graft] object CurationQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §7.5 extensions: corpus-curation widening ------------------------
    // Benchmark decontamination: 3-shingle overlap of the corpus against a
    // held-out benchmark slice (doc_id ≡ 0 mod 20 plays the benchmark).
    "q_contamination" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.TextAnalysis.contamination(
        docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", flagThreshold = 0.5)
        .orderBy(col("doc_id"))
    }),
    "q_repetition" -> ((s, dir) =>
      operators.TextAnalysis.repetitionScore(
        Crm.table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),
    "q_pii_redact" -> ((s, dir) => {
      // The corpus text is digit-free, so PII shapes are synthesized from
      // customer fields — the REDACTION itself (regex masking + audit
      // counts, cross-engine-identical patterns) is the operator under test.
      val profile = concat(col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "Customer#", "user")),
        lit("@example.com> acct "),
        floor(col("c_acctbal")).cast("long").cast("string"))
      operators.Privacy.redactPii(Crm.table(s, dir, "customer"), col("c_custkey"), profile)
        .withColumnRenamed("id", "c_custkey")
        .orderBy(col("c_custkey"))
    }),
    // Domain rebalancing: per-language deterministic sampling fractions
    // (drop zh/fr entirely, thin en, keep most of de).
    "q_sample_stratified" -> ((s, dir) =>
      operators.Sampling.stratifiedSample(
        Crm.table(s, dir, "documents"),
        col("doc_id"), col("lang"), Map("en" -> 0.3, "es" -> 0.7, "de" -> 0.9))
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),
    "q_length_hist" -> ((s, dir) => {
      Crm.table(s, dir, "documents")
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket_lo"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_contamination" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(${O.shingles3Sql("text")}) AS sh FROM documents),
        |corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 <> 0),
        |bench AS (SELECT DISTINCT ${O.hash60Sql("s")} AS h
        |          FROM (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 20 = 0)),
        |ex AS (SELECT doc_id, ${O.hash60Sql("s")} AS h
        |       FROM (SELECT doc_id, unnest(sh) AS s FROM corpus)),
        |m AS (SELECT doc_id, count(*) AS n_matched FROM ex
        |      WHERE h IN (SELECT h FROM bench) GROUP BY doc_id),
        |r AS (SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_shingles,
        |        CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
        |        CASE WHEN len(c.sh) = 0 THEN 0.0
        |             ELSE ${O.detRoundSql("COALESCE(m.n_matched, 0)::DOUBLE / len(c.sh)", 4)}
        |        END AS overlap_ratio
        |      FROM corpus c LEFT JOIN m ON c.doc_id = m.doc_id)
        |SELECT doc_id, n_shingles, n_matched, overlap_ratio,
        |  (overlap_ratio >= 0.5) AS contaminated
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      s"""SELECT doc_id,
        |  CAST(CASE WHEN len(w) < 2 THEN 0 ELSE len(w) - 1 END AS BIGINT) AS n_bigrams,
        |  CAST(CASE WHEN len(w) < 2 THEN 0
        |       ELSE len(list_distinct(bg)) END AS BIGINT) AS n_distinct_bigrams,
        |  CASE WHEN len(w) < 2 THEN 0.0
        |       ELSE ${O.detRoundSql("1.0 - len(list_distinct(bg))::DOUBLE / (len(w) - 1)", 4)}
        |  END AS repetition_ratio
        |FROM (SELECT doc_id, w,
        |        list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
        |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q_pii_redact" -> {
      val email = operators.Privacy.EmailPattern
      val num = operators.Privacy.LongNumberPattern
      s"""WITH p AS (SELECT c_custkey,
        |    c_name || ' <' || lower(regexp_replace(c_name, 'Customer#', 'user')) ||
        |    '@example.com> acct ' || CAST(CAST(floor(c_acctbal) AS BIGINT) AS VARCHAR) AS profile
        |  FROM customer),
        |r AS (SELECT c_custkey, profile,
        |        regexp_replace(profile, '$email', '<EMAIL>', 'g') AS no_email FROM p)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(profile, '$email')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(no_email, '$num')) AS BIGINT) AS n_numbers,
        |  regexp_replace(no_email, '$num', '<NUM>', 'g') AS redacted
        |FROM r ORDER BY c_custkey""".stripMargin
    },
    "q_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE (lang = 'de' AND ${sampleKeepSql("doc_id", 0.9)})
        |   OR (lang = 'en' AND ${sampleKeepSql("doc_id", 0.3)})
        |   OR (lang = 'es' AND ${sampleKeepSql("doc_id", 0.7)})
        |ORDER BY doc_id""".stripMargin,
    "q_length_hist" ->
      """SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
        |  count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY bucket_lo""".stripMargin)
}
