package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.detRound

/** Text-analysis operators for training-data pipelines (SURVEY.md §7.5):
  * token counting, quality scoring, language-ID heuristic, fingerprinting.
  * Everything except the fingerprint is pure `functions._` expressions
  * (codegen'd, oracle-expressible).
  */
object TextAnalysis {

  /** Single-space-tokenized words. */
  def words(text: Column): Column = split(text, " ")

  /** English stopword set used by the quality/lang heuristics. */
  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with", "as", "at", "by")
  val StopwordsPt: Seq[String] =
    Seq("de", "da", "do", "que", "e", "em", "um", "uma", "para", "com", "não", "os", "as", "no")
  val StopwordsEs: Seq[String] =
    Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "por", "con", "para", "es")

  private def hitCount(ws: Column, set: Seq[String]): Column =
    size(filter(ws, w => lower(w).isin(set: _*)))

  /** BPE-ish token pattern: letter runs | digit runs | single other glyph. */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Materialized tokenizer stream: one row per (doc, position, token) from
    * the BPE-ish regex. One explode, no shuffle — the downstream consumer
    * (chunking, vocab building) groups as it needs to.
    */
  def tokenStream(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
        posexplode(regexp_extract_all(col(text), lit(TokenPattern), lit(0))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("token_idx"),
        col("col").as("token"))

  /** Token counting: whitespace tokens, regex (BPE-ish) tokens, distinct
    * words, plus a chars-per-token ratio (a cheap tokenizer-cost estimate).
    */
  def tokenCounts(docs: DataFrame, id: String, text: String): DataFrame = {
    val ws = words(col(text))
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
      length(col(text)).cast("long").as("n_chars"),
      size(ws).cast("long").as("n_words"),
      size(array_distinct(ws)).cast("long").as("n_distinct_words"),
      size(regexp_extract_all(col(text), lit(TokenPattern), lit(0))).cast("long").as("n_tokens"),
      // A tokenless text (whitespace/punctuation only) must yield NULL, not
      // Spark's x/0 = Infinity — DuckDB returns NULL for every division by
      // zero, so NULL is the cross-engine answer the oracle computes.
      when(size(regexp_extract_all(col(text), lit(TokenPattern), lit(0))) === 0,
        lit(null).cast("double")).otherwise(
        detRound(length(col(text)).cast("double") /
          size(regexp_extract_all(col(text), lit(TokenPattern), lit(0))), 4))
        .as("chars_per_token"))
  }

  /** Quality scoring from length / lexical-diversity / stopword signals —
    * the standard cheap pre-filter in web-scale corpus cleaning.
    */
  /** quality_score as one column expression — lets callers (Curation) fuse
    * scoring into an existing projection instead of joining a scored copy
    * of the corpus back to itself. */
  def qualityScoreCol(text: Column): Column = {
    val ws = words(text)
    val nWords = size(ws).cast("double")
    val distinctRatio = size(array_distinct(ws)).cast("double") / nWords
    val stopRatio = hitCount(ws, StopwordsEn).cast("double") / nWords
    val lengthScore = least(nWords / 100.0, lit(1.0))
    detRound(lengthScore * 0.3 + distinctRatio * 0.4 + stopRatio * 0.3, 4)
  }

  def qualityScore(docs: DataFrame, id: String, text: String): DataFrame = {
    val ws = words(col(text))
    val nWords = size(ws).cast("double")
    val distinctRatio = size(array_distinct(ws)).cast("double") / nWords
    val stopRatio = hitCount(ws, StopwordsEn).cast("double") / nWords
    val meanWordLen = (length(col(text)).cast("double") - (nWords - 1)) / nWords
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
      size(ws).cast("long").as("n_words"),
      detRound(distinctRatio, 4).as("distinct_ratio"),
      detRound(stopRatio, 4).as("stopword_ratio"),
      detRound(meanWordLen, 4).as("mean_word_len"),
      qualityScoreCol(col(text)).as("quality_score"))
  }

  /** Language-ID heuristic: stopword-hit votes per language, deterministic
    * argmax (ties break en > pt > es > unknown). A real pipeline would use
    * character n-gram profiles; the plumbing (score → argmax per row over
    * 100 TB) is identical.
    */
  /** lang_pred as one column expression — see [[qualityScoreCol]]. */
  def langPredCol(text: Column): Column = {
    val ws = words(lower(text))
    val en = hitCount(ws, StopwordsEn)
    val pt = hitCount(ws, StopwordsPt)
    val es = hitCount(ws, StopwordsEs)
    when(en === 0 && pt === 0 && es === 0, "unknown")
      .when(en >= pt && en >= es, "en")
      .when(pt >= es, "pt")
      .otherwise("es")
  }

  def langId(docs: DataFrame, id: String, text: String): DataFrame = {
    val ws = words(lower(col(text)))
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
      hitCount(ws, StopwordsEn).cast("long").as("score_en"),
      hitCount(ws, StopwordsPt).cast("long").as("score_pt"),
      hitCount(ws, StopwordsEs).cast("long").as("score_es"),
      langPredCol(col(text)).as("lang_pred"))
  }

  /** Rabin–Karp-style rolling fingerprint: minimum of the polynomial hashes
    * of all k-char windows (winnowing-lite). Deterministic Scala UDF — the
    * hash recurrence is inherently sequential per document, but documents
    * are independent so it parallelizes perfectly across the corpus.
    *
    * Arithmetic is mod 1e9+7 over Unicode CODE POINTS (not UTF-16 units):
    * every intermediate stays far below 2^63, so the DuckDB oracle can
    * recompute the identical per-window Horner hash with `list_reduce` over
    * `unicode(...)` — wrap-on-overflow longs would be engine-private.
    * The rolling update `(h − c·Bᵏ⁻¹)·B + cₙₑw (mod M)` equals the direct
    * per-window Horner value, canonicalized to [0, M).
    */
  val FingerprintBase = 1000003L
  val FingerprintMod = 1000000007L

  def rollingFingerprint(text: String, k: Int = 8): Long = {
    val B = FingerprintBase
    val M = FingerprintMod
    if (text == null || text.isEmpty) return 0L
    val cps = text.codePoints().toArray
    val n = cps.length
    if (n <= k) return polyHash(cps, 0, n)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = pow * B % M; i += 1 }
    var h = polyHash(cps, 0, k)
    var minH = h
    i = k
    while (i < n) {
      h = Math.floorMod(Math.floorMod(h - cps(i - k) * pow % M, M) * B + cps(i), M)
      if (h < minH) minH = h
      i += 1
    }
    minH
  }

  /** Horner fold `h ← (h·B + cᵢ) mod M` — h stays in [0, M). */
  private def polyHash(cps: Array[Int], from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = (h * FingerprintBase + cps(i)) % FingerprintMod; i += 1 }
    h
  }


  /** TF-rarity top terms per document (TF-IDF with `N/df` rarity instead of
    * `log(N/df)` — log's last-ULP varies across libm implementations, while
    * integer-ratio scores are cross-engine exact). Three shuffles: term
    * counts, document frequencies (broadcast back — the vocabulary is small
    * relative to the corpus), per-doc top-k window.
    */
  def topTermsByTfRarity(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(id), col(text))
      .select(col(id).as("doc_id"), explode(words(col(text))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), Seq("term")).crossJoin(broadcast(nDocs))
      .withColumn("score",
        detRound(col("tf") * col("n_docs").cast("double") / col("df"), 4))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  def fingerprints(docs: DataFrame, id: String, text: String): DataFrame =
    // native expression (codegen); null text → 0 like the Python-falsy
    // convention and the oracle's CASE (rollingFingerprint("") is 0 itself)
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
      coalesce(graft.functions.VectorExpressions.rollingFingerprint(col(text), 8), lit(0L))
        .as("fingerprint"))

  /** MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * '03): hash every word k-gram, slide a window of `w` consecutive gram
    * hashes, keep the (leftmost) minimum of each window. Guarantees every
    * shared substring of ≥ w+k−1 words yields a shared fingerprint, with
    * ~2/(w+1) selection density — the position-aware dedup/plagiarism signal
    * that a single whole-doc min (rollingFingerprint) can't give.
    *
    * Output: one row per distinct (doc_id, pos, fp) selection. Flat per-row
    * array work, parallel across the corpus, no shuffle before the final
    * distinct. Docs shorter than k words fall back to one whole-text gram —
    * the same convention as ShingleSet, so every doc fingerprints.
    *
    * The gram-hash array is materialized as a column BEFORE the window
    * transform references it (the HOF lambda re-evaluation trap: a lambda's
    * free subtree is re-computed per element if it inlines).
    */
  def winnow(docs: DataFrame, id: String, text: String,
             k: Int = 3, w: Int = 4): DataFrame = {
    val wordsArr = Parallelism.fanOut(docs.select(col(id), col(text)), Seq(col(id)))
      .select(col(id).as("doc_id"), words(col(text)).as("__w"),
        col(text).as("__t"))
    val gram = (i: Column) => concat_ws(" ",
      (0 until k).map(j => element_at(col("__w"), i + j)): _*)
    val grams = wordsArr.select(col("doc_id"),
      when(size(col("__w")) < k, array(col("__t")))
        .otherwise(transform(sequence(lit(1), size(col("__w")) - (k - 1)), gram))
        .as("__g"))
    val hashes = grams.select(col("doc_id"),
      transform(col("__g"), g => Dedup.hash60(g)).as("__h"))
    // window i covers gram hashes [i, i+w): fp = min, pos = leftmost argmin
    val win = (i: Column) => {
      val s = slice(col("__h"), i, lit(w))
      struct((i + array_position(s, array_min(s)) - 1).cast("long").as("pos"),
        array_min(s).as("fp"))
    }
    hashes.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("__h")) - (w - 1), lit(1))), win))).as("sel"))
      .select(col("doc_id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }

  /** Vocabulary coverage curve: the smallest frequency-ranked vocabulary
    * covering each target fraction of all token occurrences — the statistic
    * that sizes a tokenizer's vocab ("how many types cover 99% of tokens?").
    *
    * The cumulative distribution over the globally-ordered term table uses
    * [[Surrogate.rankedRunningTotal]] — the two-pass distributed prefix sum —
    * because at 100 TB the post-aggregation vocabulary is still tens of
    * millions of types: a global-window cumsum would funnel it through one
    * task. No single-partition stage anywhere.
    */
  def vocabCoverage(docs: DataFrame, id: String, text: String,
                    levels: Seq[Double]): DataFrame = {
    val counts = docs.select(col(text))
      .select(explode(words(col(text))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val ranked = Surrogate.rankedRunningTotal(counts, col("cnt"), "rank", "cum",
      Seq(col("cnt").desc, col("term")))
    val total = counts.agg(sum(col("cnt")).as("total_tokens"))
    val sp = docs.sparkSession
    import sp.implicits._
    val lv = levels.toDF("level")
    ranked.crossJoin(broadcast(total))
      .withColumn("covfrac", col("cum").cast("double") / col("total_tokens"))
      .join(broadcast(lv), col("covfrac") >= col("level"))
      .groupBy(col("level"))
      .agg(min(col("rank")).as("vocab_size"), min(col("cum")).as("tokens_covered"),
        max(col("total_tokens")).as("total_tokens"))
      .withColumn("coverage",
        detRound(col("tokens_covered").cast("double") / col("total_tokens"), 6))
      .orderBy(col("level"))
  }

  /** Benchmark-contamination check: per corpus document, the fraction of
    * its word 3-shingles that also occur in a benchmark/eval set — the
    * decontamination step every serious training-data pipeline runs before
    * training (n-gram overlap against held-out benchmarks).
    *
    * Scale design: the benchmark shingle set is small (benchmarks are
    * thousands of docs, the corpus is the 100 TB side) — hashed once,
    * deduped, and used as the build side of a semi join keyed on the 60-bit
    * md5 of the shingle, so the corpus streams through one explode + one
    * hash semi join + one per-doc count. No corpus self-join anywhere.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame, id: String, text: String,
                    flagThreshold: Double = 0.5): DataFrame = {
    val corpusSh = corpus.select(col(id), col(text))
      .select(col(id).as("doc_id"),
        graft.functions.VectorExpressions.shingleSet(col(text), 3).as("sh"))
    val benchHashes = benchmark
      .select(explode(graft.functions.VectorExpressions.shingleSet(col(text), 3)).as("s"))
      .select(Dedup.hash60(col("s")).as("h")).distinct()
    val matched = corpusSh
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), Dedup.hash60(col("s")).as("h"))
      .join(benchHashes, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
    corpusSh.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(matched, Seq("doc_id"), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("overlap_ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(detRound(col("n_matched").cast("double") / col("n_shingles"), 4)))
      .withColumn("contaminated", col("overlap_ratio") >= flagThreshold)
  }

  /** Repetition score: duplicate-bigram fraction per document — the cheap
    * boilerplate/spam signal (template pages repeat the same word pairs).
    * `1 − distinct_bigrams / total_bigrams`; single-word docs score 0.
    * Flat per-row projection over a materialized word array (the lambda
    * reads an attribute, not a recomputed split — the HOF re-evaluation
    * trap).
    */
  def repetitionScore(docs: DataFrame, id: String, text: String): DataFrame = {
    val withW = docs.select(col(id), col(text))
      .select(col(id).as("doc_id"), words(col(text)).as("__w"))
    val bigrams = transform(sequence(lit(0), size(col("__w")) - 2), i =>
      concat_ws(" ", element_at(col("__w"), i + 1), element_at(col("__w"), i + 2)))
    withW.select(col("doc_id"),
      when(size(col("__w")) < 2, lit(0L))
        .otherwise(size(bigrams)).cast("long").as("n_bigrams"),
      when(size(col("__w")) < 2, lit(0L))
        .otherwise(size(array_distinct(bigrams))).cast("long").as("n_distinct_bigrams"),
      when(size(col("__w")) < 2, lit(0.0))
        .otherwise(detRound(lit(1.0) -
          size(array_distinct(bigrams)).cast("double") / size(bigrams), 4))
        .as("repetition_ratio"))
  }

  /** One BPE merge-candidate iteration (Sennrich et al. 2016): the
    * frequency-weighted count of every adjacent symbol pair over the
    * word-level vocabulary — the statistic whose argmax IS the next BPE
    * merge when training a tokenizer. Starts from character symbols (the
    * first iteration); subsequent iterations re-run over re-segmented
    * words.
    *
    * Scale design: pair counting runs over the VOCABULARY (distinct words
    * + their corpus frequencies), not the raw token stream — the corpus
    * pass is one word-count aggregate, after which the pair explode is
    * vocabulary-sized. Global top-k by (weighted count, pair) is a sort
    * + limit, the scale-safe k-row reduction.
    */
  def bpeMergeCandidates(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val vocab = docs.select(col(text))
      .select(explode(words(col(text))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val chars = vocab.select(col("freq"), split(col("word"), "").as("__c"))
      .filter(size(col("__c")) >= 2)
    val pairs = chars.select(col("freq"),
      explode(transform(sequence(lit(1), size(col("__c")) - 1), i =>
        concat_ws(" ", element_at(col("__c"), i), element_at(col("__c"), i + 1))))
        .as("pair"))
    pairs.groupBy(col("pair"))
      .agg(sum(col("freq")).as("total_count"), count(lit(1)).as("n_word_positions"))
      .orderBy(col("total_count").desc, col("pair")).limit(k)
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) — [[bpeMergeCandidates]]'
    * single statistic iterated to a trained merge list: per round, count
    * every adjacent symbol pair over the word-level vocabulary, take the
    * argmax (ties to the lexicographically-smaller pair), and apply the
    * merge greedily left-to-right inside every word's symbol sequence; the
    * returned (round, pair, total_count) table IS the tokenizer artifact a
    * runtime tokenizer replays in order.
    *
    * Scale design (the q_bpe_merge bound): the corpus is scanned ONCE for
    * word frequencies; every round after that runs over the VOCABULARY
    * (distinct words), never the token stream — pair explode, one combinable
    * sum, a 1-row argmax broadcast back, and a per-word fold to apply the
    * merge. Round state (the re-segmented vocabulary) is checkpoint-rotated
    * like every other fixpoint loop (O(1) lineage — the fold otherwise
    * nests per round).
    *
    * Determinism: frequencies and pair counts are exact integer sums; the
    * argmax is (count DESC, pair ASC); the greedy merge is a deterministic
    * left-to-right fold — `[a,a,a]` under merge (a,a) becomes `[aa,a]`,
    * and a just-merged symbol only re-merges when its concatenation
    * literally equals the left symbol (standard BPE). The DuckDB oracle
    * replays the same rounds with ONE non-overlapping string-replace over
    * a double-space-delimited segmentation (the pattern consumes one space
    * from each boundary, so adjacent matches — including self-pair runs —
    * never share a delimiter), which BpeTrainSpec pins equal to the fold.
    */
  def bpeTrain(docs: DataFrame, id: String, text: String, rounds: Int,
               checkpointDir: Option[String] = None): DataFrame = {
    val ckRoot = IterState.root(checkpointDir)
    val (merges, seg) = bpeLoop(docs, text, rounds, ckRoot)
    // the merge list never reads the final segmentation back — drop its
    // (reliable-mode) files too; the 1-row `best` checkpoints carry the result
    IterState.drop(seg, ckRoot, rounds)
    merges.reverse.reduce(_ unionAll _)
  }

  /** ONE greedy left-to-right application of merge (a, b) over a symbol
    * array — the fold shared by the training loop and the OOV replay in
    * [[bpeTokenizeWithVocab]], so the two cannot drift (BpeTrainSpec pins
    * the fold's semantics against the reference merge). */
  private def applyMergeFold(sym: Column, a: Column, b: Column): Column =
    aggregate(sym, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && s === b,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), s))))
        .otherwise(concat(acc, array(s))))

  /** The shared train loop: returns the per-round merge rows AND the final
    * (word, freq, sym) vocabulary segmentation after all `rounds` merges —
    * [[bpeTrain]] keeps only the former, [[bpeTokenize]] consumes the
    * latter. The word column rides the (vocabulary-sized) round state so
    * the final segmentation is joinable back to the corpus. */
  private def bpeLoop(docs: DataFrame, text: String, rounds: Int,
                      ckRoot: Option[String]): (List[DataFrame], DataFrame) = {
    require(rounds >= 1, "bpeTrain needs at least one merge round")
    // corpus pass fanned out before the explode (no-op at scale): the
    // word-count's map side otherwise runs inside the one scan task of a
    // single-split source
    val vocab = Parallelism.fanOut(docs.select(col(text)), Seq(col(text)))
      .select(explode(words(col(text))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var seg = IterState(
      vocab.select(col("word"), col("freq"), split(col("word"), "").as("sym")), ckRoot, 0)
    var merges = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val best = seg.filter(size(col("sym")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(1), size(col("sym")) - 1), i =>
            concat_ws(" ", element_at(col("sym"), i), element_at(col("sym"), i + 1))))
            .as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("total_count"))
        .orderBy(col("total_count").desc, col("pair")).limit(1)
        .select(col("pair"), col("total_count"), split(col("pair"), " ").as("ab"))
        // 1-row argmax: materialized once, read by BOTH the merge apply and
        // the output row (lazy, the pair aggregate would run twice)
        .localCheckpoint()
      merges ::= best.select(lit(r.toLong).as("round"), col("pair"), col("total_count"))
      val applied = seg.crossJoin(broadcast(best.select(col("ab"))))
        .select(col("word"), col("freq"),
          applyMergeFold(col("sym"),
            element_at(col("ab"), 1), element_at(col("ab"), 2)).as("sym"))
      val next = IterState(applied, ckRoot, r)
      IterState.drop(seg, ckRoot, r - 1)
      seg = next
    }
    (merges, seg)
  }

  /** Tokenize with the TRAINED merge list (VERDICT r11 #3 — the q_bpe_train
    * artifact's first consumer): replay the K learned merges over the
    * vocabulary (the same loop that trained them, so the tokens provably
    * come from that merge list), then map the corpus token stream through
    * the resulting word→symbols table. Output: one row per
    * (doc, word position, token position within word, token), the
    * subword-tokenized corpus a training pipeline feeds to packing.
    *
    * Scale shape: training work is vocabulary-sized per round (bpeTrain's
    * bound, unchanged); the application is ONE corpus explode + ONE equi
    * join on `word` (vocabulary table — shuffle-partitioned, AQE broadcasts
    * it when small; never all-pairs) + a per-row explode of each word's
    * symbols. No new iteration, no driver loop.
    */
  def bpeTokenize(docs: DataFrame, id: String, text: String, rounds: Int,
                  checkpointDir: Option[String] = None): DataFrame = {
    val ckRoot = IterState.root(checkpointDir)
    val (_, seg) = bpeLoop(docs, text, rounds, ckRoot)
    // word_idx counts ALL split positions (1-based, empties included) and
    // only then drops empty words — position numbering is split-stable
    val toks = docs.select(col(id), col(text))
      .select(col(id).as("doc_id"), posexplode(words(col(text))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("word_idx"),
        col("col").as("word"))
      .filter(length(col("word")) >= 1)
    toks.join(seg.select(col("word"), col("sym")), Seq("word"))
      .select(col("doc_id"), col("word_idx"), posexplode(col("sym")))
      .select(col("doc_id"), col("word_idx"),
        (col("pos") + 1).cast("long").as("token_idx"), col("col").as("token"))
  }

  /** PERSIST the trained tokenizer — merge list AND final vocabulary
    * segmentation to parquet (`merges.parquet`: round/pair/total_count;
    * `vocab.parquet`: word/sym). Train once over the base corpus; every
    * later corpus tokenizes via [[bpeTokenizeWithVocab]] without
    * re-running a single training round. */
  def writeBpeVocab(docs: DataFrame, id: String, text: String, rounds: Int,
                    dir: String, checkpointDir: Option[String] = None): Unit = {
    val ckRoot = IterState.root(checkpointDir)
    val (merges, seg) = bpeLoop(docs, text, rounds, ckRoot)
    merges.reverse.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dir/merges.parquet")
    seg.select(col("word"), col("sym"))
      .write.mode("overwrite").parquet(s"$dir/vocab.parquet")
    IterState.drop(seg, ckRoot, rounds) // both outputs persisted — state can go
  }

  /** Tokenize with a PERSISTED [[writeBpeVocab]] artifact — the inference
    * path real tokenizers run: in-vocabulary words map through the stored
    * segmentation (one equi join), and OUT-OF-VOCABULARY words replay the
    * K stored merges in training order over their character split — K
    * nested [[applyMergeFold]] expressions over the (small) OOV vocabulary
    * in ONE pass, no joins, no iteration state, because the merges are
    * model-sized literals (the same bounded-driver-traffic contract as the
    * perceptron's weight table). Same output schema as [[bpeTokenize]],
    * and equal output on the training corpus itself (OOV empty) —
    * q_tokenize_artifact gates that on q_tokenize_bpe's oracle; the OOV
    * replay is spec-pinned against hand-computed merges. */
  def bpeTokenizeWithVocab(docs: DataFrame, id: String, text: String,
                           dir: String): DataFrame = {
    val spark = docs.sparkSession
    val vocab = spark.read.parquet(s"$dir/vocab.parquet")
    val mergePairs = spark.read.parquet(s"$dir/merges.parquet")
      .orderBy(col("round")).select(col("pair")).collect()
      .map(_.getString(0)) // K rows — model-sized by construction
    // corpus side fanned out BEFORE the explode (guide §2.4; no-op at
    // scale): with a single-split docs source the planner otherwise
    // broadcast the CORPUS token stream (its pre-explode size estimate
    // undercuts the vocab's) and fused the whole tokenize onto the vocab's
    // one scan task — backwards at every scale, serial locally (r17
    // measured 6.8 s of task time on one core)
    val toks = Parallelism.fanOut(docs.select(col(id), col(text)), Seq(col(id)))
      .select(col(id).as("doc_id"), posexplode(words(col(text))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("word_idx"),
        col("col").as("word"))
      .filter(length(col("word")) >= 1)
    val oovSeg = mergePairs.foldLeft(
      toks.select(col("word")).distinct()
        .join(vocab.select(col("word")), Seq("word"), "left_anti")
        .select(col("word"), split(col("word"), "").as("sym"))) { (seg, p) =>
      val ab = p.split(" ", 2)
      seg.select(col("word"),
        applyMergeFold(col("sym"), lit(ab(0)), lit(ab(1))).as("sym"))
    }
    val fullSeg = vocab.select(col("word"), col("sym")).unionByName(oovSeg)
    // the segmentation table is MODEL-sized (trained vocab + this corpus's
    // OOV words) — broadcast it explicitly so the corpus stream is the
    // probe side at every scale (guide §3.1: the planner's size estimates
    // pick the wrong build side here)
    toks.join(broadcast(fullSeg), Seq("word"))
      .select(col("doc_id"), col("word_idx"), posexplode(col("sym")))
      .select(col("doc_id"), col("word_idx"),
        (col("pos") + 1).cast("long").as("token_idx"), col("col").as("token"))
  }

  /** Overlapping token-window chunking — the RAG/embedding-prep sibling of
    * [[Multimodal.chunkPlan]]'s byte chunking, with the SAME chunk-index
    * convention (`(n−1) div hop + 1` chunks, trailing chunk truncated):
    * split each document into `chunkLen`-token windows every `hop` tokens
    * and materialize the chunk text. Pure per-row expression work (explode
    * + slice + join over the materialized word array); chunk count scales
    * with document length, not corpus size.
    */
  def chunkTokens(docs: DataFrame, id: String, text: String,
                  chunkLen: Int = 64, hop: Int = 48): DataFrame =
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"), words(col(text)).as("__w"))
      .select(col("doc_id"), col("__w"), size(col("__w")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("__w"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), greatest((n_tokens - 1) div $hop, CAST(0 AS BIGINT)))"))
          .as("chunk_idx"))
      .withColumn("offset", col("chunk_idx") * hop)
      .withColumn("chunk_tokens", least(lit(chunkLen.toLong), col("n_tokens") - col("offset")))
      .withColumn("chunk_text",
        array_join(slice(col("__w"), (col("offset") + 1).cast("int"),
          col("chunk_tokens").cast("int")), " "))
      .select(col("doc_id"), col("chunk_idx"), col("offset"),
        col("chunk_tokens"), col("chunk_text"))

  /** BM25 top terms per document (Robertson/Walker, k1=1.2 b=0.75) — the
    * retrieval-grade sibling of [[topTermsByTfRarity]]: term-frequency
    * SATURATION (a term's 10th occurrence adds less than its 1st) and
    * document-LENGTH normalization, the two things raw TF·rarity lacks.
    * The idf factor is the Robertson odds `(N−df+0.5)/(df+0.5) + 1`
    * WITHOUT the usual ln(): ln is a monotone transform that would not
    * change the saturation/normalization behavior being scored here, and
    * libm last-ULP variance across engines would poison the hash gate —
    * the same determinism convention as the rarity score. Every op in the
    * score is an IEEE-exact mult/div over integer-derived doubles.
    *
    * Shape: identical to tf-idf — term counts, doc frequencies broadcast
    * back, per-doc bounded top-k window. Scales the same way.
    */
  def bm25TopTerms(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(id), col(text))
      .select(col(id).as("doc_id"), words(col(text)).as("__w"))
      .select(col("doc_id"), col("__w"), size(col("__w")).cast("long").as("dl"))
    val terms = base.select(col("doc_id"), col("dl"), explode(col("__w")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val scored = tf.join(broadcast(dfreq), Seq("term")).crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      .withColumn("score", detRound(
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 4))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Top-k word bigrams per language — the corpus-statistics pass that
    * feeds tokenizer/LM diagnostics (which collocations dominate each
    * language slice?).
    *
    * Scale design: "top k per language" is the power-law trap — a language
    * partition holds millions of distinct bigrams, so a per-language
    * row_number window would sort an entire language's vocabulary in ONE
    * task. Instead the top-k runs as [[graft.functions.TopKAggregate]]'s
    * O(k)-state map-side-combinable aggregate keyed by the bigram's 60-bit
    * md5 (the aggregate carries (score, long-id) pairs), and the winning
    * ids join back to their strings against the counts table. Ties break
    * (count desc, hash asc) — deterministic and oracle-mirrorable since
    * md5 is engine-identical.
    */
  def topNgramsPerLang(docs: DataFrame, text: String, lang: String, k: Int): DataFrame = {
    val base = docs.select(col(lang), col(text))
      .select(col(lang).as("lang"), words(col(text)).as("__w"))
      .filter(size(col("__w")) >= 2)
    val grams = base.select(col("lang"),
      explode(transform(sequence(lit(1), size(col("__w")) - 1), i =>
        concat_ws(" ", element_at(col("__w"), i), element_at(col("__w"), i + 1))))
        .as("bigram"))
    val cnt = grams.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
      .withColumn("bg_hash", Dedup.hash60(col("bigram")))
    val top = cnt.groupBy(col("lang"))
      .agg(graft.functions.TopKAggregate.topKByScore(
        col("cnt").cast("double"), col("bg_hash"), k).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("bg_hash"))
    top.join(cnt, Seq("lang", "bg_hash"))
      .select(col("lang"), col("rank"), col("bigram"), col("cnt"))
  }

  /** Hashing-trick featurization: every (doc, token) lands in one of `dim`
    * buckets via the portable 60-bit md5 hash, and the feature value is the
    * bucket's token count. No vocabulary table, no fit pass, no driver
    * state — the property that makes the hashing trick THE featurizer at
    * 100 TB (a learned vocab is a second full scan plus a giant broadcast).
    * One explode + one map-side-combinable count aggregate.
    */
  def hashFeatures(docs: DataFrame, id: String, text: String,
                   dim: Int = 1024): DataFrame =
    tokenStream(docs, id, text)
      .select(col("doc_id"),
        (Dedup.hash60(lower(col("token"))) % dim).as("bucket"))
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("f"))

  /** DSIR-style importance selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): pick the
    * raw documents whose [[hashFeatures]] unigram profile best matches a
    * TARGET domain. Per hashed bucket b, with add-one smoothing,
    * p_t(b) = (ct_b+1)/(Tt+dim) over target docs and p_r(b) likewise over
    * the whole corpus; a document scores Σ_b f_db · λ_b.
    *
    * λ is the FIRST-ORDER (log-free) ratio weight `p_t/p_r − 1` rather
    * than DSIR's `ln(p_t/p_r)`: ln's last ULP varies across libm
    * implementations and would poison the cross-engine hash gate, while
    * the ratio is built from IEEE basic ops only (mult/div of
    * integer-derived doubles — correctly rounded everywhere); for the
    * near-1 ratios smoothing produces, `r − 1` is ln r's first-order
    * expansion and ranks identically in the tails that matter. Same
    * determinism convention as [[topTermsByTfRarity]] / [[bm25TopTerms]].
    * λ quantizes to 1e-6 integers BEFORE the per-doc sum (exact BIGINT
    * accumulation — partition order can't move a rank), and the cutoff is
    * a total order (score desc, doc_id), so the selected set is unique.
    *
    * Scale shape: token-count aggregates are map-side combinable; the λ
    * table is `dim`-bounded (constant, broadcast); the top-n is
    * TakeOrdered, never a global sort. Nothing is ever corpus² and no
    * driver state — the 100 TB data-selection pass.
    *
    * Contracts: a zero-token document has no feature row and therefore
    * cannot be selected (both engines agree — it has no evidence either
    * way). `targetPred` should match ≥1 document: an empty target makes
    * every λ NULL (sum over nothing) and the selection degenerates to
    * null scores, identically on both engines.
    */
  def dsirSelect(docs: DataFrame, id: String, text: String,
                 targetPred: Column, n: Int = 100, dim: Int = 1024,
                 quantScale: Double = 1e6, releaseCache: Boolean = false): DataFrame = {
    // deliberate materialization (the triangleStats argument): the hashed
    // feature table feeds three differently-shaped consumers (target
    // counts, raw counts, the per-doc weighted sum) — uncached, each
    // re-runs the corpus tokenization explode; cached, the expensive
    // lineage runs once and the memo is the SMALL (doc, bucket, f) table
    val feats = hashFeatures(docs, id, text, dim).cache()
    // Target-domain counts come from RE-TOKENIZING the filtered target
    // subset, NOT from joining feats against the target id set: the id
    // join broadcasts only while the target fits the 10 MB threshold and
    // one decade later silently degrades to a SortMergeJoin that sorts
    // the corpus-sized feature table (measured at 1000×: 12.5× per 10×
    // rows — the LSH verify-join cliff's sibling; 3.4× post-fix). The
    // re-tokenization is a pushed-down filtered scan of the target share
    // of the corpus — no shuffle, no join, no broadcast limit — and the
    // deterministic tokenizer makes the counts identical either way.
    val tgt = hashFeatures(docs.filter(targetPred), id, text, dim)
      .groupBy(col("bucket")).agg(sum(col("f")).as("ct"))
    val raw = feats.groupBy(col("bucket")).agg(sum(col("f")).as("cr"))
    val tTot = tgt.agg(sum(col("ct")).as("tt"))
    val rTot = raw.agg(sum(col("cr")).as("rt"))
    val lam = raw.join(tgt, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("bucket"),
        floor(
          (((col("ct") + 1).cast("double") * (col("rt") + dim).cast("double"))
            / ((col("cr") + 1).cast("double") * (col("tt") + dim).cast("double"))
            - lit(1.0)) * quantScale + lit(0.5)).cast("long").as("lam_q"))
    // Lifecycle: by default the feats cache stays registered until the
    // session drops it (or a caller clears the cache) — the
    // lazy plan keeps the TakeOrdered/broadcast shape the whole-surface
    // gate inspects. `releaseCache = true` is the long-lived-session hook
    // (VERDICT r11 #8): the n-row result is materialized eagerly
    // (localCheckpoint of ≤ n rows) and the corpus-sized feature cache is
    // unpersisted before returning, so repeated selections can't
    // accumulate session storage.
    val out = feats.join(broadcast(lam), Seq("bucket"))
      .groupBy(col("doc_id")).agg(sum(col("f") * col("lam_q")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id")).limit(n)
      .select(col("doc_id"),
        detRound(col("score_q").cast("double") / quantScale, 4).as("score"))
    if (!releaseCache) out
    else {
      val materialized = out.localCheckpoint()
      feats.unpersist()
      materialized
    }
  }

  /** Sparse TF-IDF cosine near-duplicate pairs via the inverted index —
    * the TOKEN-space sibling of the dense embedding near-dup: candidate
    * pairs form only where two documents SHARE a token (one equi join on
    * the token), and rare-token pruning (`df <= maxDf`) bounds every
    * inverted list, so the quadratic step is Σ df² over surviving tokens
    * instead of n²/2. Weights are tf/df (∝ tf·idf; the N factor cancels in
    * the cosine); every float accumulation — norms and dots — quantizes
    * products to 1e-4 integers BEFORE summing, so partition order can't
    * move a pair across the threshold on any engine.
    */
  def sparseCosinePairs(docs: DataFrame, id: String, text: String,
                        maxDf: Int = 20, threshold: Double = 0.75,
                        quantScale: Double = 1e4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // BIGRAM terms, not unigrams: unigram vocabularies are small enough
    // that every token's inverted list is corpus-sized and the df-prune
    // deletes the whole index; bigram df falls off fast (V² vocabulary),
    // which is exactly what keeps the lists bounded
    val toks = tokenStream(docs, id, text)
      .select(col("doc_id"), col("token_idx"), lower(col("token")).as("u"))
    val nxt = Window.partitionBy(col("doc_id")).orderBy(col("token_idx"))
    val tf = toks
      .withColumn("nw", lead(col("u"), 1).over(nxt))
      .filter(col("nw").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("u"), col("nw")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val weighted = tf.join(dfreq, Seq("w"))
      .select(col("doc_id"), col("w"),
        (col("tf").cast("double") / col("df")).as("wt"))
    val norms = weighted
      .groupBy(col("doc_id"))
      .agg(sqrt(sum(floor(col("wt") * col("wt") * quantScale + 0.5)) / quantScale)
        .as("nrm"))
    val a = weighted.select(col("w"), col("doc_id").as("doc_a"), col("wt").as("wa"))
    val b = weighted.select(col("w"), col("doc_id").as("doc_b"), col("wt").as("wb"))
    val dots = a.join(b, Seq("w"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((sum(floor(col("wa") * col("wb") * quantScale + 0.5)) / quantScale)
        .as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("norm_a")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("norm_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        detRound(col("dot") / (col("norm_a") * col("norm_b")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Bigram language-model count tables — the Kneser–Ney numerators:
    * per surviving bigram (count ≥ minCount) its raw count, the
    * continuation count N₁₊(•w₂) (distinct left contexts of w₂) and the
    * right diversity N₁₊(w₁•) (distinct continuations of w₁).
    *
    * The bigram stream is built with a per-document window (`lead` over
    * token_idx — partition size = doc length, never corpus-sized); both
    * diversity tables are derived from the bigram TYPE table (vocabulary²
    * bounded, already aggregated) rather than re-scanning the token
    * stream, so the corpus is read exactly once.
    */
  /** Per-document bigram occurrence stream (doc_id, w1, w2), lowercased —
    * the `lead`-window construction shared by the LM count tables and the
    * LM quality buckets (one definition so a tokenization change cannot
    * skew one consumer's oracle silently — review r5). The window
    * partitions by document: its size is a doc's token count, never
    * corpus-sized.
    */
  private def bigramStream(docs: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokenStream(docs, id, text)
      .select(col("doc_id"), col("token_idx"), lower(col("token")).as("w"))
    val nxt = Window.partitionBy(col("doc_id")).orderBy(col("token_idx"))
    toks.withColumn("w2", lead(col("w"), 1).over(nxt))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
  }

  def bigramLmCounts(docs: DataFrame, id: String, text: String,
                     minCount: Int = 3): DataFrame = {
    val types = bigramStream(docs, id, text)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bigram"))
    val leftCtx = types.groupBy(col("w2")).agg(count(lit(1)).as("n_left_ctx"))
    val rightDiv = types.groupBy(col("w1")).agg(count(lit(1)).as("n_right_ctx"))
    types.filter(col("c_bigram") >= minCount)
      .join(leftCtx, Seq("w2")).join(rightDiv, Seq("w1"))
      .select(col("w1"), col("w2"), col("c_bigram"),
        col("n_left_ctx"), col("n_right_ctx"))
  }

  /** CCNet-style LM quality bucketing (Wenzek et al. 2020 §4.3: score every
    * document with a language model, cut the corpus into head/middle/tail
    * terciles). The "LM" is the corpus's own bigram MLE — per doc-bigram
    * occurrence p = c(w1,w2)/c(w1·), averaged over the doc — so high scores
    * mean "made of common continuations" (fluent/templated) and low scores
    * mean rare constructions, exactly the axis CCNet buckets on. ln-free on
    * purpose: the average of probabilities is monotone enough to rank and
    * keeps every accumulation integer (log-probs would need cross-engine
    * libm parity).
    *
    * Cross-engine determinism: each p quantizes to floor(p·1e6) BEFORE the
    * per-doc sum (integer, order-free); the per-doc score is then ONE
    * division; tercile cuts are exact interpolated percentiles of those
    * scores (a broadcast 1-row table), so bucket membership is a pure
    * function of the corpus. Scale: bigram TOKEN stream → one
    * map-side-combinable count on (w1,w2), c(w1·) derived from that
    * already-aggregated type table, one equi join back — the corpus is
    * read once, and the only per-doc state is a sum and a count.
    */
  def lmQualityBuckets(docs: DataFrame, id: String, text: String): DataFrame = {
    val bigrams = bigramStream(docs, id, text)
    val cBig = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
    val cLeft = cBig.groupBy(col("w1")).agg(sum(col("c_bigram")).as("c_w1"))
    val scored = bigrams
      .join(cBig, Seq("w1", "w2")).join(cLeft, Seq("w1"))
      .withColumn("q",
        floor(col("c_bigram").cast("double") / col("c_w1") * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .withColumn("score", col("sq").cast("double") / col("n_bigrams"))
    // docs with < 2 tokens have no bigrams: score 0 (they land in the tail)
    val all = docs.select(col(id).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score"), lit(0.0)).as("score"))
    val cuts = all.agg(
      expr("percentile(score, CAST(1 AS DOUBLE) / 3)").as("t1"),
      expr("percentile(score, CAST(2 AS DOUBLE) / 3)").as("t2"))
    all.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("score") > col("t2"), lit("head"))
          .when(col("score") > col("t1"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("n_bigrams"),
        detRound(col("score"), 4).as("score"), col("bucket"))
  }

  /** Hashed-feature linear quality scorer — the plumbing of a fastText-style
    * model-based filter (CCNet / GPT-3's quality classifier), with the
    * learned weights replaced by a DETERMINISTIC md5-derived weight per
    * bucket so the whole path is oracle-checkable. Everything a real scorer
    * needs is here and relational: hashing-trick features (no vocabulary,
    * no fit pass — [[hashFeatures]]), a weight per bucket computed INLINE
    * from the bucket id (a real model would broadcast-join its ≤dim-row
    * weight table instead), integer margin accumulation (weights are
    * integers in [-1000, 1000]; contribution f·w is an exact BIGINT,
    * quantize-before-sum), and ONE division normalizing by token count.
    * One corpus scan, one map-side-combinable aggregate, zero joins.
    *
    * Output: margin = (Σ_b f_b·w_b) / (1000·Σ_b f_b) ∈ [-1, 1] — the
    * pre-sigmoid linear score (σ is monotone, so keep/drop thresholds on
    * the margin and on the probability are the same decision boundary).
    */
  def hashLinearScore(docs: DataFrame, id: String, text: String,
                      dim: Int = 1024): DataFrame =
    hashFeatures(docs, id, text, dim)
      .withColumn("w",
        Dedup.hash60(concat(lit("w"), col("bucket").cast("string"))) % 2001L - 1000L)
      .groupBy(col("doc_id"))
      .agg(sum(col("f") * col("w")).as("m"), sum(col("f")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        detRound(col("m").cast("double") / (col("n_tokens") * 1000.0), 6)
          .as("margin"))
      .withColumn("keep", col("margin") >= 0.0)

  // ---- Trained quality classifier (batch perceptron) ----------------------

  /** Deterministic weak-supervision label for the trained quality
    * classifier: +1 where the [[langId]] heuristic predicts English, −1
    * otherwise — the standard bootstrap for corpus quality filters (CCNet,
    * Wenzek et al. 2020; GPT-3's quality classifier, Brown et al. 2020
    * App. A trains against a trusted-corpus signal the same way). Integer
    * compares only, so both engines agree exactly.
    */
  def qualityLabel(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
        when(langPredCol(col(text)) === "en", 1L).otherwise(-1L).as("y"))

  /** The distributed BATCH-PERCEPTRON loop (Rosenblatt 1958, batch form):
    * per round, margins m_d = Σ_b f_db·w_b over the cached feature table,
    * the misclassified set {d : y_d·m_d ≤ 0}, and the full-batch update
    * w_b += Σ_miss y_d·f_db. Everything is INTEGER arithmetic — counts,
    * weights, margins, updates — so the loop is exactly reproducible on
    * any engine and partition order cannot move a single weight.
    *
    * Scale shape: the corpus-sized artifact is the (doc, bucket, f)
    * feature table, materialized ONCE and scanned twice per round by
    * map-side-combinable aggregates (margins per doc, gradient per
    * bucket); the model state is `dim`-bounded and driver-held — each
    * round ships a ≤ dim-row gradient to the driver (the only driver
    * traffic, [[bpeTrain]]'s 1-row-argmax contract widened to model size)
    * and broadcasts the ≤ dim-row weight table back, so the per-round
    * plan is FLAT (no growing lineage, no checkpoint rotation needed:
    * the state never lives in an executor plan).
    */
  private def perceptronLoop(feats: DataFrame, labels: DataFrame,
                             rounds: Int): Map[Long, Long] =
    // per-round exchanges sized to the feature table (guide §2 scale-
    // adaptive partitioning; see Graph.pagerankRun — no-op at scale)
    Parallelism.withInputSizedShuffle(Seq(feats, labels)) {
    require(rounds >= 1, "perceptron training needs at least one round")
    val spark = feats.sparkSession
    import spark.implicits._
    // labels are consumed once PER ROUND: uncached, every round re-ran the
    // whole weak-label corpus scan (regex tokenization + three stopword
    // filters per row) — rounds× the labeling cost for identical rows.
    // The (doc_id, y) table is two narrow columns; cache it like feats.
    val lab = labels.persist()
    var w = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      val wDf = w.toSeq.toDF("bucket", "w")
      val margins = feats.join(broadcast(wDf), Seq("bucket"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("f") * coalesce(col("w"), lit(0L))).as("m"))
      // left join: a zero-token doc has no feature rows, margin 0 — it is
      // always "misclassified" but carries no features, so it cannot move
      // the update on either engine
      val miss = lab.join(margins, Seq("doc_id"), "left")
        .filter(col("y") * coalesce(col("m"), lit(0L)) <= 0)
        .select(col("doc_id"), col("y"))
      val delta = feats.join(miss, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(col("y") * col("f")).as("d"))
        .collect() // ≤ dim rows — model-sized by construction
      w = delta.foldLeft(w) { (acc, r) =>
        acc.updated(r.getLong(0), acc.getOrElse(r.getLong(0), 0L) + r.getLong(1))
      }
    }
    lab.unpersist()
    w
    }

  /** TRAIN the hashed-feature quality classifier — the learned counterpart
    * of [[hashLinearScore]] (whose doc notes "a real model would
    * broadcast-join its ≤ dim-row weight table"; this produces that
    * table). Weak labels from [[qualityLabel]], features from
    * [[hashFeatures]], `rounds` batch-perceptron updates starting from
    * w = 0 (round 1 therefore updates on EVERY labeled doc). Output: the
    * full `dim`-row learned weight table (bucket, w), zeros included —
    * the engine's second trained artifact after `q_bpe_train`'s merges.
    */
  def perceptronTrain(docs: DataFrame, id: String, text: String,
                      dim: Int = 256, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = perceptronTrainedWeights(docs, id, text, dim, rounds)
    (0L until dim.toLong).map(b => (b, w.getOrElse(b, 0L)))
      .toDF("bucket", "w")
  }

  /** The trained weight map itself (driver-side, ≤ dim entries) — for
    * consumers that embed the model in an expression rather than a join
    * (e.g. the streaming scorer [[graft.streaming.EventsStream.
    * qualityScoreStream]]). */
  def perceptronTrainedWeights(docs: DataFrame, id: String, text: String,
                               dim: Int = 256, rounds: Int = 5): Map[Long, Long] = {
    val feats = hashFeatures(docs, id, text, dim).persist()
    val w = perceptronLoop(feats, qualityLabel(docs, id, text), rounds)
    feats.unpersist() // the weight map is driver-side — nothing lazy reads feats
    w
  }

  /** APPLY the trained classifier — the consumer that makes
    * [[perceptronTrain]]'s artifact load-bearing (same contract as
    * [[bpeTokenize]] for the BPE merges: it re-runs the identical training
    * loop, so the weights provably come from that loop). Every document is
    * scored with the learned table — margin = Σ_b f_db·w_b (exact BIGINT)
    * — and `keep = margin > 0`; zero-token documents score 0 and drop.
    * One broadcast join of the ≤ dim-row weight table + one
    * map-side-combinable aggregate: the 100 TB filter pass.
    *
    * Lifecycle mirrors [[dsirSelect]]: the feature cache stays registered
    * by default (until a caller clears the cache); `releaseCache = true`
    * materializes the result and unpersists before returning.
    */
  def perceptronScore(docs: DataFrame, id: String, text: String,
                      dim: Int = 256, rounds: Int = 5,
                      releaseCache: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = hashFeatures(docs, id, text, dim).persist()
    val wDf = perceptronLoop(feats, qualityLabel(docs, id, text), rounds)
      .toSeq.toDF("bucket", "w")
    val scored = feats.join(broadcast(wDf), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("f") * coalesce(col("w"), lit(0L))).as("m"),
        sum(col("f")).as("nt"))
    val out = docs.select(col(id).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nt"), lit(0L)).as("n_tokens"),
        coalesce(col("m"), lit(0L)).as("margin"))
      .withColumn("keep", col("margin") > 0)
    if (!releaseCache) out
    else {
      val materialized = out.localCheckpoint()
      feats.unpersist()
      materialized
    }
  }

  /** PERSIST the trained quality classifier — the model-registry shape
    * completing the artifact set (LSH signatures, IVF-PQ index, BPE vocab,
    * and now model weights): the full dim-row integer weight table to
    * parquet. Train once; every batch scorer loads the table
    * ([[perceptronScoreWithModel]]) and the streaming scorer can embed the
    * same rows as literals. */
  def writeQualityModel(docs: DataFrame, id: String, text: String,
                        dir: String, dim: Int = 256, rounds: Int = 5): Unit =
    perceptronTrain(docs, id, text, dim, rounds)
      .write.mode("overwrite").parquet(s"$dir/weights.parquet")

  /** Load a [[writeQualityModel]] artifact into the driver-side weight map
    * the STREAMING scorer embeds as literals
    * ([[graft.streaming.EventsStream.qualityScoreStream]]) — so the
    * streaming job serves a model trained offline, with no training code
    * on its path. Collects dim rows — model-sized by construction.
    * PerceptronSpec pins loaded ≡ trained (modulo explicit zeros, which
    * both scorers treat as absent). */
  def loadQualityModel(spark: org.apache.spark.sql.SparkSession,
                       dir: String): Map[Long, Long] =
    spark.read.parquet(s"$dir/weights.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Score a corpus with a PERSISTED [[writeQualityModel]] artifact — the
    * inference-only pass: no labels, no training loop, no feature cache;
    * one broadcast join of the dim-row weight table against the hashed
    * features + one map-side-combinable aggregate, i.e. the 100 TB filter
    * pass with the training cost amortized away. Output-equal to
    * [[perceptronScore]] for a model trained on the same (docs, dim,
    * rounds) — q_quality_artifact gates it on the SAME oracle SQL, and
    * TextAnalysisSpec pins the equality. `dim` must match the build. */
  def perceptronScoreWithModel(docs: DataFrame, id: String, text: String,
                               dir: String, dim: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    val wDf = spark.read.parquet(s"$dir/weights.parquet")
    val scored = hashFeatures(docs, id, text, dim)
      .join(broadcast(wDf), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("f") * coalesce(col("w"), lit(0L))).as("m"),
        sum(col("f")).as("nt"))
    docs.select(col(id).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nt"), lit(0L)).as("n_tokens"),
        coalesce(col("m"), lit(0L)).as("margin"))
      .withColumn("keep", col("margin") > 0)
  }
}
