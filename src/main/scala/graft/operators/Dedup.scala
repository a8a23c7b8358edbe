package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.{sortedIntersectCount, sortedJaccard}

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §7.5 — beyond-parity extensions; no reference counterpart).
  *
  * Scale design (100 TB): nothing here compares all-pairs globally. Exact
  * dedup is one hash-shuffle on the key; near-dup methods go through
  * candidate generation (LSH bands / blocking) so the quadratic step only
  * happens inside small buckets, and candidates are deduplicated as BARE ID
  * PAIRS before the (array-carrying) verification join — shuffling shingle
  * sets through a distinct would dominate at scale.
  *
  * Hashing: all signatures derive from md5 (bit-identical in every engine),
  * sliced to 60-bit longs — so the full minhash/simhash pipelines are
  * mirrored by the DuckDB oracle (SparkEntry.oracleSql), not just
  * rows-only-checked. `xxhash64` would be faster per call but is
  * engine-private; the hash cost is amortized anyway by hashing each
  * shingle/word ONCE and deriving the k minhash slots arithmetically
  * (Kirsch–Mitzenmacher double hashing).
  */
object Dedup {

  /** Normalized word array (single-space-tokenized, as-is casing). */
  def words(text: Column): Column = split(text, " ")

  /** First 60 bits of md5 as a non-negative long — engine-portable hash.
    * (15 hex chars < 2^60, so the value never wraps negative.) Evaluated
    * by the native codegen [[graft.functions.HashExpressions.Md5Slice60]]
    * (digest bytes → long, thread-local MessageDigest — no hex string /
    * substring / conv-parse allocations per row); [[hash60Ref]] keeps the
    * composed form as the semantic reference the DuckDB oracle mirrors,
    * pinned bit-identical by HashExpressionsSpec.
    */
  def hash60(c: Column): Column =
    graft.functions.HashExpressions.hash60Native(c)

  /** The composed reference form of [[hash60]] — oracle-mirrored
    * semantics, used only by the parity spec. */
  def hash60Ref(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Second independent 60-bit md5 slice, reduced mod 1e9+7 so that
    * `h1 + j·h2m` stays far below 2^63 for j < 64 on every engine
    * (DuckDB throws on BIGINT overflow; Spark would silently wrap).
    * Native evaluation like [[hash60]]; [[hash60bRef]] is the mirror.
    */
  def hash60b(c: Column): Column =
    graft.functions.HashExpressions.hash60bNative(c) % 1000000007L

  /** The composed reference form of [[hash60b]]. */
  def hash60bRef(c: Column): Column =
    conv(substring(md5(c), 16, 15), 16, 10).cast("long") % 1000000007L

  /** Exact dedup by content: keep the smallest id per identical key.
    * One shuffle (hash aggregate); at 100 TB prefer this over
    * `dropDuplicates` when the winner must be deterministic.
    */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("text"))
      .agg(min(id).as("doc_id"), count(lit(1)).as("n_copies"))

  /** Word-set Jaccard similarity of two (distinct-element) arrays
    * (expression-tree form; the operators below use the allocation-free
    * native [[sortedJaccard]] over pre-sorted arrays — same value).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exactness-preserving size prune: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    * so a pair failing `min ≥ t·max` cannot reach threshold t and is
    * skipped without touching the arrays.
    */
  private def sizeRatioOk(na: Column, nb: Column, t: Double): Column =
    least(na, nb).cast("double") >= lit(t) * greatest(na, nb)

  /** Exact word-set Jaccard near-dup pairs within a blocking key: a
    * TRIANGLE-SALTED self-join over DICTIONARY-ENCODED sets.
    *
    * Candidate structure — triangle salting. A plain self-join on the block
    * key puts every pair of a block into one task — with a handful of
    * blocks (here: languages) that is single-task skew no matter how many
    * cores exist. Instead each doc gets a deterministic slice s ∈ [0, S);
    * the unordered pair {a,b} is produced exactly once, in bucket
    * (block, min(sa,sb), max(sa,sb)): the left side replicates each doc to
    * buckets (s, s..S-1), the right side to (0..s, s). That turns one block
    * into S(S+1)/2 evenly-sized buckets — the parallelism story that
    * survives 100 TB (salting, SURVEY §4). At 1000 executors raise S so
    * blocks·S(S+1)/2 covers the cluster; replication is cheap because of
    * the encoding below.
    *
    * Set representation — dictionary ids, not strings. The vocabulary is
    * probed with one BOUNDED action (`distinct().limit(65).collect()`:
    * never more than 65 rows reach the driver, whatever the corpus size);
    * each document's word set then becomes either
    *  - one 64-bit BITMASK when the vocabulary fits in 64 ids: the word→bit
    *    map is a constant-folded LITERAL, so encoding is a pure per-row
    *    expression — no explode, no dictionary shuffle — jaccard collapses
    *    to two popcounts (`bit_count`), each pair costs O(1), and a single
    *    long is shuffled per replica (measured 8.0 s → ~1 s at sf0.1,
    *    whose 31-word synthetic corpus is exactly this shape), or
    *  - a sorted int-id array otherwise: ids come from the distributed
    *    dense rank ([[Surrogate.zipWithIndexOrdered]] — the build-once
    *    vocabulary artifact, exactly like the LSH signature table), the
    *    merge-pass [[sortedJaccard]] compares ints, not UTF8 strings, and
    *    the shuffle payload shrinks ~4× vs word strings.
    * Both encodings are EXACT — ids come from a dictionary, not a hash, so
    * intersection/union counts are the word-set counts. The vocabulary
    * probe is an action: this operator is eager like [[containmentPairs]].
    *
    * PRECONDITION (shared with every eager operator here): `docs` must be
    * DETERMINISTIC — the probe and the later encode evaluate the lineage
    * twice, so a non-deterministic upstream (`sample`,
    * `monotonically_increasing_id`) could yield words absent from the
    * probed vocabulary, nulling that doc's bitmask and silently dropping
    * it. Cache or checkpoint such inputs first.
    *
    * Why not the DF-ranked prefix filter (containmentPairs' candidate
    * scheme)? On high-redundancy corpora — small vocabularies, every token
    * near-universal — the prefix filter degenerates to all-pairs (measured
    * at sf0.1: 3.187M of 3.199M block pairs survive it) while still paying
    * the inverted-index shuffles. Triangle salting keeps the irreducibly
    * quadratic verification evenly spread; the encoding makes each
    * verification near-free. The size-ratio bound (J ≤ min/max sizes)
    * still prunes pairs before any set is touched.
    */
  def jaccardPairs(docs: DataFrame, id: String, text: String, blockKey: String,
                   threshold: Double, saltSlices: Int = 6): DataFrame = {
    val S = saltSlices
    val base = docs.select(col(id).as("doc_id"), col(blockKey).as("block"),
      array_distinct(words(col(text))).as("ws0"))
    val tok = base.select(col("doc_id"), explode(col("ws0")).as("s"))
    // Bounded eager probe: at most 65 vocabulary rows ever reach the driver.
    val probe = tok.select(col("s")).distinct().limit(65)
      .collect().map(_.getString(0))
    // empty vocabulary (zero docs, or every text null/empty) must take the
    // array path: map_from_arrays(array(), array()) would be a NullType-
    // keyed map and fail analysis in element_at (ADVICE r6)
    val bitmask = probe.nonEmpty && probe.length <= 64
    val prepared = (if (bitmask) {
      // ≤64 distinct words: word→power-of-two as a literal map (sorted for
      // determinism, constant-folded by Catalyst), folded over each row's
      // word set — the encode never leaves the row.
      val vocab = probe.sorted
      val powMap = map_from_arrays(
        array(vocab.map(lit(_)): _*),
        array(vocab.indices.map(i => lit(1L << i)): _*))
      base.withColumn("set", aggregate(col("ws0"), lit(0L),
          (acc, w) => acc.bitwiseOR(element_at(powMap, w))))
        .withColumn("nw", expr("bit_count(set)"))
        .select(col("doc_id"), col("block"), col("set"), col("nw"))
    } else {
      val dict = Surrogate.zipWithIndexOrdered(
        tok.select(col("s")).distinct(), "tid", Seq(col("s")))
      val encoded = tok.join(dict, Seq("s"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("tid").cast("int"))).as("set"))
        .withColumn("nw", size(col("set")))
      base.select(col("doc_id"), col("block")).join(encoded, Seq("doc_id"))
    }).withColumn("slice", pmod(xxhash64(col("doc_id")), lit(S)).cast("int"))
    val lefts = prepared
      .withColumn("j", explode(sequence(col("slice"), lit(S - 1))))
      .select(col("block"), col("slice").as("i"), col("j"),
        col("doc_id").as("id_l"), col("set").as("set_l"), col("nw").as("nw_l"),
        col("slice").as("slice_l"))
    val rights = prepared
      .withColumn("i", explode(sequence(lit(0), col("slice"))))
      .select(col("block").as("block_r"), col("i"), col("slice").as("j"),
        col("doc_id").as("id_r"), col("set").as("set_r"), col("nw").as("nw_r"),
        col("slice").as("slice_r"))
    val joined = lefts.join(rights,
      col("block") === col("block_r") && lefts("i") === rights("i") &&
        lefts("j") === rights("j") &&
        // same-slice bucket needs the id order filter; cross-slice buckets
        // contain each unordered pair exactly once already
        (col("slice_l") =!= col("slice_r") || col("id_l") < col("id_r")) &&
        sizeRatioOk(col("nw_l"), col("nw_r"), threshold))
    val withJaccard =
      if (bitmask)
        // inter/union as the same exact integer division the array path
        // (and the oracle) computes: popcounts of AND / OR.
        joined.withColumn("jaccard",
          expr("CAST(bit_count(set_l & set_r) AS DOUBLE) / bit_count(set_l | set_r)"))
      else
        joined.withColumn("jaccard", sortedJaccard(col("set_l"), col("set_r")))
    withJaccard
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("doc_id_a"),
        greatest(col("id_l"), col("id_r")).as("doc_id_b"), col("jaccard"))
  }

  // ---- MinHash + LSH --------------------------------------------------------

  /** Word 3-shingles (whole text when shorter than 3 words).
    *
    * `w` MUST be a materialized column (a real attribute), not an inline
    * `split(...)` expression: higher-order functions re-evaluate free
    * subtrees of the lambda body per ELEMENT, so an inline split would run
    * ~3× per shingle (≈150× per doc — measured 2.2 ms/doc, the entire
    * minhash bottleneck). An attribute reference re-reads a row slot — free.
    */
  def shingles3(text: Column, w: Column): Column =
    when(size(w) < 3, array(text)).otherwise(
      transform(sequence(lit(0), size(w) - 3), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))

  /** Sorted distinct shingle sets via the native single-pass expression
    * (same value as `sort_array(array_distinct(shingles3(...)))` — asserted
    * in DedupSpec). */
  def withShingles(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), col(text))
      .select(col(id).as("doc_id"),
        graft.functions.VectorExpressions.shingleSet(col(text), 3).as("sh"))

  /** MinHash-LSH near-dup pairs: signature → bands → bucket join →
    * exact-Jaccard verification on the candidates only.
    *
    * bands·rows = k. Pr[candidate] = 1-(1-j^rows)^bands — with k=32,
    * bands=8, rows=4 a 0.7-Jaccard pair is caught w.p. ~0.97 while the
    * quadratic work stays inside hash buckets.
    *
    * The signature is computed RELATIONALLY, not with array lambdas:
    * explode shingles to rows, md5 each shingle once in a flat projection,
    * then the k slots are `min(h1 + j·h2m)` aggregates (Kirsch–Mitzenmacher)
    * in ONE map-side-combinable shuffle. Higher-order-function forms
    * (k × array_min(zip_with(...))) blow up the Catalyst tree when the
    * optimizer inlines the shared hash arrays — planning alone went to
    * minutes — and re-evaluate the hash lambda per slot; the relational
    * shape keeps everything in flat whole-stage codegen and is also the
    * right 100 TB plan (min combines map-side, explode is linear).
    *
    * NOTE: this operator is EAGER — it runs the full LSH job at call time
    * (one `count()` materializes the pruned pair set so the two build-side
    * caches can be released immediately; at scale the signatures are
    * persisted artifacts with the same build-once lifecycle). The returned
    * DataFrame is cached and owned by the caller (`unpersist` when done);
    * merely constructing it for plan inspection executes the job.
    */
  /** The (doc_id, band, band_hash) signature table shared by the full and
    * incremental LSH operators — md5 each shingle ONCE, derive the k
    * minhash slots arithmetically (Kirsch–Mitzenmacher), hash `rows`-slot
    * groups into band buckets. ONE definition so the incremental operator's
    * spec-pinned equivalence to the full pair set cannot drift (review r5).
    */
  private def bandHashes(prepared: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val hashed = prepared
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("m", md5(col("s")))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring(col("m"), 16, 15), 16, 10).cast("long") % 1000000007L).as("h2"))
    val sig = hashed.groupBy(col("doc_id"))
      .agg(min(col("h1") + lit(0L) * col("h2")).as("mh0"),
        (1 until k).map(j => min(col("h1") + lit(j.toLong) * col("h2")).as(s"mh$j")): _*)
    sig
      .select(col("doc_id"), posexplode(array((0 until bands).map { b =>
        hash60(concat_ws(",", (0 until rows).map(r => col(s"mh${b * rows + r}")): _*))
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** Self-tuning strategy for the LSH verification joins (r12, closing the
    * history/SCALE_PROBE_r12_pipeline_sf100 thread). Two measured data points say
    * the right strategy is CORPUS-DEPENDENT: SHUFFLE_HASH won r10's sf100
    * run (109 s where SortMergeJoin cliffed on sorting the corpus-sized
    * shingle table), but its build map is UNSPILLABLE — on r12's
    * regenerated replica corpus the verify build hit the 1 GB acquire and
    * HARD-FAILED where merge merely spills (509 s, completes). Both
    * decision inputs are already cached before the join runs, so the
    * choice costs two small aggregates over cached data:
    *
    *   estPairs    — Σ c·(c−1)/2 over (band, band_hash) buckets (full), or
    *                 Σ d·(c−1) with d = delta rows per bucket (incremental):
    *                 an upper bound on the DISTINCT candidate pair count
    *                 (distinct() only shrinks it; per-pair band multiplicity
    *                 only inflates the bound — conservative in the safe
    *                 direction, i.e. toward the spillable strategy).
    *   avgShingles — mean shingle-set size, sizing join 2's build rows
    *                 (each candidate pair carries one shingle array — the
    *                 heavy build; join 1's bare id pairs are strictly
    *                 smaller).
    *
    * Estimated worst-case build = estPairs × (avgShingles·20 + 120) bytes
    * spread uniformly over shuffle partitions; pick merge when a
    * partition's share exceeds the per-task build budget. The budget is
    * NOT a constant: the probe runs showed the binding constraint is
    * per-task execution memory under full slot concurrency (the sf10
    * replica failed SHJ acquiring 128 MB on top of a 132 MB map — every
    * slot was building simultaneously out of heap·fraction), so
    * [[shjBuildBudget]] derives it from the executor heap, the unified
    * memory fraction, and the slot count, halved for the BytesToBytesMap
    * growth-doubling and cached-plan storage contention.
    */
  private[graft] def pickVerifyHint(estPairs: Double, avgShingles: Double,
                                    shufflePartitions: Int,
                                    budgetBytes: Long): String = {
    // 20 B/shingle: UnsafeArrayData element = 8-byte offset/len word +
    // 8-byte-padded 3-gram bytes; 120 B/row: pair ids + array header +
    // BytesToBytesMap entry overhead. Order-of-magnitude is what matters —
    // the healthy and pathological regimes are decades apart.
    val bytesPerRow = avgShingles * 20.0 + 120.0
    val perPartition = estPairs * bytesPerRow / math.max(1, shufflePartitions)
    if (perPartition > budgetBytes.toDouble) "merge" else "shuffle_hash"
  }

  /** Per-task unspillable-build budget for the SHJ choice. The measured
    * failure mode (history/SCALE_PROBE_r12_verifyhint.json, sf10 AND sf100
    * replicas): every slot builds its hash map CONCURRENTLY out of
    * `heap × spark.memory.fraction` execution memory, so a map bigger than
    * its 1/slots share dies on the growth acquire regardless of how many
    * shuffle partitions spread the data. Derivation: (heap − 300 MB
    * reserved) × fraction / slots / 2 — the final /2 covers the
    * BytesToBytesMap growth-doubling transient and storage contention from
    * the operator's own cached build tables.
    * Local mode (`local`, `local[N]`) reads the actual JVM heap (executors
    * share it) and its parallelism; any other master, `local-cluster`
    * included, reads spark.executor.memory/cores. Floor 64 MB so undersized
    * test JVMs still exercise SHJ. */
  private[graft] def shjBuildBudget(spark: org.apache.spark.sql.SparkSession): Long =
    shjBuildBudget(spark.sparkContext.master, spark.conf.getOption,
      spark.sparkContext.defaultParallelism, Runtime.getRuntime.maxMemory)

  /** The budget from its inputs: the master, a conf lookup, and the
    * driver's parallelism and heap, which count in local mode only. */
  private[graft] def shjBuildBudget(master: String, conf: String => Option[String],
                                    localSlots: Int, localHeap: Long): Long = {
    val isLocal = master == "local" || master.startsWith("local[")
    val heap: Long =
      if (isLocal) localHeap
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf("spark.executor.memory").getOrElse("4g"))
    val slots: Int =
      if (isLocal) math.max(1, localSlots)
      else conf("spark.executor.cores").getOrElse("4").toInt
    val fraction = conf("spark.memory.fraction").getOrElse("0.6").toDouble
    math.max(64L << 20, ((heap - (300L << 20)) * fraction / slots / 2).toLong)
  }

  /** Last auto decision (hint, estPairs, avgShingles) — read by the scale
    * probe and specs to see WHY a strategy was chosen; never read by query
    * code. Volatile is enough: one LSH build runs at a time per session. */
  @volatile private[graft] var lastAutoVerify: Option[(String, Double, Double)] = None

  /** Resolve the verification-join hint for a cached band table. `banded`
    * must carry (band, band_hash); when it also carries `__delta`
    * (incremental operator) the pair bound counts only delta-probe
    * candidates. `budget` is the per-task build budget, [[shjBuildBudget]]
    * unless a spec pins it. */
  private[graft] def verifyHintFor(banded: DataFrame, prepared: DataFrame,
                                   budget: Option[Long] = None): String = {
    val spark = banded.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val deltaAware = banded.columns.contains("__delta")
    val perBucket =
      if (deltaAware)
        banded.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("c"), sum(col("__delta")).as("d"))
      else
        banded.groupBy("band", "band_hash").agg(count(lit(1)).as("c"))
    val pairsCol =
      if (deltaAware) sum(col("d").cast("double") * (col("c") - lit(1)))
      else sum(col("c").cast("double") * (col("c") - lit(1)) / lit(2))
    val estPairs = perBucket.agg(coalesce(pairsCol, lit(0.0))).head().getDouble(0)
    val avgSh = prepared.agg(coalesce(avg(size(col("sh"))), lit(0.0)))
      .head().getDouble(0)
    val hint = pickVerifyHint(estPairs, avgSh, parts,
      budget.getOrElse(shjBuildBudget(spark)))
    lastAutoVerify = Some((hint, estPairs, avgSh))
    hint
  }

  def minhashLshPairs(docs: DataFrame, id: String, text: String,
                      k: Int = 32, bands: Int = 8, threshold: Double = 0.6): DataFrame =
    minhashLshPairs(docs, id, text, k, bands, threshold, None)

  /** [[minhashLshPairs]] with the verify join's build budget pinned (None
    * derives it): the seam the strategy-invariance spec drives both join
    * strategies through. */
  private[graft] def minhashLshPairs(docs: DataFrame, id: String, text: String,
                                     k: Int, bands: Int, threshold: Double,
                                     budget: Option[Long]): DataFrame = {
    // Cached: the shingle sets feed the hash pipeline AND both sides of the
    // verification join — at scale these signatures would be persisted
    // artifacts anyway (built once, reused by every dedup run).
    val prepared = withShingles(docs, id, text).cache()
    val banded = bandHashes(prepared, k, bands)
      .cache() // both sides of the candidate self-join read this
    val l = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_id_b"))
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b").distinct()
    // Verification joins carry the SHUFFLE_HASH hint on the candidate side:
    // without it the planner broadcasts candidates only while they fit the
    // 10 MB threshold, and one decade later silently degrades to a
    // SortMergeJoin that SORTS the corpus-sized shingle-array table twice
    // (measured at 1000×: verify 98 s of the 183 s artifact build — the
    // whole third-decade super-linearity). A shuffled hash join builds on
    // the id-pair side and streams the wide arrays unsorted.
    //
    // Build-side boundedness (the condition Graph.rankLoop's negative
    // result makes mandatory for any forced SHJ): join 1 builds on bare
    // id pairs; join 2 builds on those pairs PLUS one shingle array each —
    // still the LSH-PRUNED candidate set, whose smallness (Σ bucket² ≪ n²)
    // is this operator's core contract, with per-partition build size
    // constant when shuffle partitions scale with data (§8.5). If a
    // degenerate corpus densifies candidates toward quadratic, the pair
    // table itself explodes before join strategy matters — and SMJ
    // degrades on the same input by sorting strictly more bytes.
    // Empirical: SHJ survives sf100 (109 s) where SMJ cliffs.
    //
    // Strategy is SELF-TUNING (r12): the two sf100 data points — SHJ wins
    // on LSH-contract-respecting corpora (r10: 109 s vs SMJ cliff) but
    // HARD-FAILS the 1 GB unspillable acquire on the r12 replica corpus
    // where merge completes — make the default corpus-dependent, so
    // [[verifyHintFor]] derives it from the cached band-bucket histogram
    // and shingle-set sizes BEFORE any candidate pair materializes.
    val verifyHint = verifyHintFor(banded, prepared, budget)
    val result = candidates.hint(verifyHint)
      .join(prepared.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")), Seq("doc_id_a"))
      .hint(verifyHint)
      .join(prepared.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")), Seq("doc_id_b"))
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
      .cache()
    // Materialize the (small, LSH-pruned) pair set eagerly, then release the
    // two build-side caches — repeated invocations in a long-lived session
    // would otherwise accumulate orphaned storage entries (r2 advice). The
    // returned DataFrame is itself cached: it is the operator's persisted
    // artifact, and its lifecycle belongs to the caller (unpersist when done).
    result.count()
    prepared.unpersist()
    banded.unpersist()
    result
  }

  /** INCREMENTAL MinHash-LSH near-dup pairs: the nightly-feed shape, where
    * a delta batch must be deduplicated against itself AND against the
    * already-ingested base WITHOUT re-pairing the base. Candidate
    * generation puts ONLY delta docs on the probe side of the band-bucket
    * join (base×base pairs can never form); the build side is the full
    * banded signature table — at 100 TB that side is the persisted
    * signature artifact ([[minhashLshPairs]] scaladoc), so the nightly run
    * hashes just the delta and equi-joins it into existing buckets.
    *
    * Emits exactly the [[minhashLshPairs]] pairs that involve ≥1 delta doc
    * (ids normalized a < b) — the spec pins that equivalence. Same eager
    * build-once lifecycle as the full-pair operator.
    */
  def minhashLshPairsIncremental(docs: DataFrame, id: String, text: String,
                                 isDelta: Column, k: Int = 32, bands: Int = 8,
                                 threshold: Double = 0.6): DataFrame = {
    val prepared = docs.select(col(id), col(text), isDelta.cast("int").as("__delta"))
      .select(col(id).as("doc_id"),
        graft.functions.VectorExpressions.shingleSet(col(text), 3).as("sh"),
        col("__delta")).cache()
    // the SAME signature pipeline as minhashLshPairs (shared bandHashes —
    // the equivalence the spec pins); the delta flag rides back in via a
    // doc-count-sized join against the cached prepared table
    val banded = bandHashes(prepared, k, bands)
      .join(prepared.select(col("doc_id"), col("__delta")), Seq("doc_id"))
      .cache()
    val probe = banded.filter(col("__delta") === 1)
      .select(col("band"), col("band_hash"), col("doc_id").as("id_d"))
    val build = banded
      .select(col("band"), col("band_hash"), col("doc_id").as("id_o"),
        col("__delta").as("delta_o"))
    val candidates = probe.join(build, Seq("band", "band_hash"))
      .filter(col("id_d") =!= col("id_o"))
      // delta-delta pairs land in both orientations: keep one; delta-base
      // pairs have a single orientation (base never probes)
      .filter(col("delta_o") === 0 || col("id_d") < col("id_o"))
      .select(least(col("id_d"), col("id_o")).as("doc_id_a"),
        greatest(col("id_d"), col("id_o")).as("doc_id_b")).distinct()
    // same self-tuning discipline as minhashLshPairs' verification: a
    // large delta's candidate set outgrows the broadcast threshold and
    // would otherwise sort the corpus-sized shingle table; the delta-aware
    // pair bound (Σ d·(c−1)) keeps a small nightly delta on SHJ even when
    // the base corpus is huge.
    val verifyHint = verifyHintFor(banded, prepared)
    val result = candidates.hint(verifyHint)
      .join(prepared.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")), Seq("doc_id_a"))
      .hint(verifyHint)
      .join(prepared.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")), Seq("doc_id_b"))
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
      .cache()
    result.count()
    prepared.unpersist()
    banded.unpersist()
    result
  }

  /** PERSISTED LSH signature artifact — the build-once lifecycle the
    * operators above describe, made concrete. Writes two consistent tables
    * under `dir`:
    *   - `shingles.parquet` (doc_id, sh): the sorted distinct shingle sets
    *     (verification side),
    *   - `bands.parquet` (doc_id, band, band_hash): the banded minhash
    *     signatures (candidate side).
    * The band pass reads the persisted shingles back, so the corpus text is
    * hashed exactly ONCE and the two tables cannot drift. At 100 TB this is
    * the expensive pass a deployment runs once and then amortizes across
    * every nightly delta ([[minhashLshPairsDelta]]) — which never touches
    * base text again. Ids must stay unique across the base and all later
    * deltas (the same contract as [[minhashLshPairsIncremental]]).
    */
  def writeSignatureArtifact(docs: DataFrame, id: String, text: String,
                             dir: String, k: Int = 32, bands: Int = 8): Unit = {
    val spark = docs.sparkSession
    withShingles(docs, id, text)
      .write.mode("overwrite").parquet(s"$dir/shingles.parquet")
    bandHashes(spark.read.parquet(s"$dir/shingles.parquet"), k, bands)
      .write.mode("overwrite").parquet(s"$dir/bands.parquet")
  }

  /** The two artifact contributions of a delta — (shingles, bands), the
    * bands derived from the CACHED shingle frame so the delta's text is
    * hashed once. The caller writes them where its lifecycle needs (the
    * batch append below; the streaming refresh's batchId-keyed fold) and
    * must unpersist the returned shingle frame after both writes land. */
  def signatureFrames(delta: DataFrame, id: String, text: String,
                      k: Int = 32, bands: Int = 8): (DataFrame, DataFrame) = {
    val prep = withShingles(delta, id, text).cache()
    (prep, bandHashes(prep, k, bands))
  }

  /** Fold a consumed delta into the artifact (run AFTER
    * [[minhashLshPairsDelta]] so tonight's delta is tomorrow's base).
    * Plain parquet appends — same single-runner contract as the backfill
    * sink: two concurrent appenders of the same delta would double it. */
  def appendToSignatureArtifact(delta: DataFrame, id: String, text: String,
                                dir: String, k: Int = 32, bands: Int = 8): Unit = {
    val (prep, banded) = signatureFrames(delta, id, text, k, bands)
    prep.write.mode("append").parquet(s"$dir/shingles.parquet")
    banded.write.mode("append").parquet(s"$dir/bands.parquet")
    prep.unpersist()
  }

  /** Nightly delta dedup against the PERSISTED artifact: hashes ONLY the
    * delta, equi-joins its bands into the artifact's existing buckets, and
    * emits exactly the [[minhashLshPairsIncremental]] pairs of (base ∪
    * delta) that involve ≥1 delta doc — DedupSpec pins that equivalence —
    * without re-reading a byte of base text. The artifact's two tables are
    * the only base inputs: `bands.parquet` feeds candidate generation (a
    * narrow 3-column columnar scan) and `shingles.parquet` feeds only the
    * verification join's build rows for candidate ids. This is the shape
    * whose cost stays delta-sized as the base grows toward 100 TB.
    *
    * The verify-join tuner sees the delta-flagged union band table (so its
    * pair bound is the delta-aware Σ d·(c−1)) but reads the shingle-size
    * stat from the cached DELTA only — a delta-sized proxy for the corpus
    * distribution, avoiding a base-wide scan for one scalar.
    */
  def minhashLshPairsDelta(delta: DataFrame, id: String, text: String,
                           dir: String, k: Int = 32, bands: Int = 8,
                           threshold: Double = 0.6): DataFrame = {
    val deltaPrep = withShingles(delta, id, text).cache()
    val deltaBands = bandHashes(deltaPrep, k, bands).cache()
    val result = minhashLshPairsDeltaFrames(deltaPrep, deltaBands, dir, threshold)
    deltaPrep.unpersist()
    deltaBands.unpersist()
    result
  }

  /** [[minhashLshPairsDelta]] over ALREADY-PREPARED delta frames — the
    * streaming refresh shape (r18, VERDICT r17 #1): the refresh loop needs
    * the delta's (shingles, bands) BOTH for the pair discovery and for the
    * artifact fold, and the old composition shingled and band-hashed the
    * batch twice (once inside the delta dedup, once in signatureFrames).
    * `deltaPrep`/`deltaBands` must be [[withShingles]]/[[bandHashes]] of
    * the same delta; the CALLER owns their caches (this method consumes
    * each more than once). Output is identical to the one-shot form by
    * construction — same frames, same joins. */
  def minhashLshPairsDeltaFrames(deltaPrep: DataFrame, deltaBands: DataFrame,
                                 dir: String,
                                 threshold: Double = 0.6): DataFrame = {
    val spark = deltaPrep.sparkSession
    val banded = spark.read.parquet(s"$dir/bands.parquet")
      .withColumn("__delta", lit(0))
      .unionByName(deltaBands.withColumn("__delta", lit(1)))
    val probe = deltaBands
      .select(col("band"), col("band_hash"), col("doc_id").as("id_d"))
    val build = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_o"), col("__delta").as("delta_o"))
    val candidates = probe.join(build, Seq("band", "band_hash"))
      .filter(col("id_d") =!= col("id_o"))
      .filter(col("delta_o") === 0 || col("id_d") < col("id_o"))
      .select(least(col("id_d"), col("id_o")).as("doc_id_a"),
        greatest(col("id_d"), col("id_o")).as("doc_id_b")).distinct()
    val allSh = spark.read.parquet(s"$dir/shingles.parquet")
      .unionByName(deltaPrep)
    val verifyHint = verifyHintFor(banded, deltaPrep)
    val result = candidates.hint(verifyHint)
      .join(allSh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")), Seq("doc_id_a"))
      .hint(verifyHint)
      .join(allSh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")), Seq("doc_id_b"))
      .withColumn("jaccard", sortedJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"), col("jaccard"))
      .cache()
    result.count()
    result
  }

  /** Containment (asymmetric) near-dup pairs: emit (a, b) when
    * |sh(a) ∩ sh(b)| / |sh(a)| ≥ t — "a is (near-)subsumed in b", the
    * quote/boilerplate/excerpt relation MinHash cannot see (a short doc
    * fully contained in a long one has LOW Jaccard but containment 1).
    *
    * Candidate generation is the classic DF-ordered PREFIX FILTER
    * (SSJoin/PPJoin family): order every doc's shingles globally by
    * (document frequency, shingle) — rarest first — and observe that if
    * |A∩B| ≥ t·|A| then B must contain one of A's first ⌊(1−t)·|A|⌋+1
    * shingles in that order. So only the prefix explodes on the probe side,
    * the candidate join is an equi join on the shingle, and rare-first
    * ordering keeps per-shingle bucket sizes small. At 100 TB the DF-ranked
    * inverted index is the build-once artifact, exactly like the LSH
    * signatures.
    *
    * The prefix length uses INTEGER arithmetic (t as num/den): a float
    * ⌊(1−t)·n⌋ differs between engines (DECIMAL vs IEEE rounding of 1−t).
    */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       tNum: Int = 9, tDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tNum.toDouble / tDen
    val sh = withShingles(docs, id, text).cache()
    // n rides the explode (sh is distinct per doc, so |sh| = per-doc shingle
    // count), replacing a per-doc count window. df stays a groupBy+join —
    // NOT a count window over the shingle partition: the aggregate is
    // map-side-combined to vocabulary size and AQE broadcasts it, where a
    // window would full-shuffle-and-sort every exploded row by shingle
    // (measured ~0.5 s slower at sf0.1).
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val pre = ex.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      // ⌊(1−t)·n⌋+1 = ((den−num)·n) div den + 1, exactly, on any engine
      .filter(col("rn") <= expr(s"(($tDen - $tNum) * n) div $tDen") + 1)
    val cand = pre.select(col("doc_id").as("a"), col("n").as("na"), col("s"))
      .join(ex.select(col("doc_id").as("b"), col("n").as("nb"), col("s")), Seq("s"))
      .filter(col("a") =!= col("b"))
      // Exactness-preserving SIZE prune (r18, VERDICT r17 #8; the
      // [[sizeRatioOk]] idea applied to the asymmetric measure):
      // containment = |A∩B|/|A| ≤ |B|/|A|, so a pair with
      // tDen·|B| < tNum·|A| can never reach t — drop it BEFORE the pair
      // distinct and the array-carrying verify joins. Integer compare
      // (engine-exact); measured at sf0.1: candidates 133k → 81k, the
      // verify pass 2.4 → 1.1 s, output identical (505 rows).
      .filter(col("nb") * tDen >= col("na") * tNum)
      .select(col("a"), col("b")).distinct()
    val result = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      // merge-pass count, not array_intersect: shingle sets are sorted
      // distinct (ShingleSet contract), so |A∩B| needs no hash set and no
      // intermediate array per candidate pair
      .withColumn("containment", graft.functions.GraftFunctions.detRound(
        sortedIntersectCount(col("sha"), col("shb")).cast("double") / size(col("sha")), 4))
      .filter(col("containment") >= t)
      .select(col("a").as("doc_id_a"), col("b").as("doc_id_b"), col("containment"))
      .cache()
    result.count() // materialize, then release the build-side cache
    sh.unpersist()
    result
  }

  // ---- SimHash --------------------------------------------------------------

  /** 60-bit SimHash from word frequencies, expression-only: explode words,
    * per-word 60-bit md5 hash, then 60 per-bit signed sums. The per-doc
    * aggregate is a single hash-shuffle; bit b of the result is 1 iff the
    * weighted vote is positive. 60 bits (not 64) so the signature and its
    * chunks stay non-negative longs on every engine.
    */
  val SimhashBits = 60

  def simhash60(docs: DataFrame, id: String, text: String): DataFrame = {
    val exploded = docs.select(col(id), col(text))
      .select(col(id).as("doc_id"), explode(words(col(text))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60(col("w")))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"b$b")
    }
    val sums = exploded.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimhashBits).map { b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: band the 60-bit signature into 4×15-bit chunks
    * (any pair within Hamming distance 3 shares ≥1 exact chunk — pigeonhole),
    * join on chunks over bare ids, verify Hamming ≤ maxHamming.
    */
  def simhashPairs(docs: DataFrame, id: String, text: String, maxHamming: Int = 3): DataFrame = {
    val sig = simhash60(docs, id, text)
    val chunked = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val l = chunked.select(col("chunk"), col("chunk_val"), col("doc_id").as("doc_id_a"), col("simhash").as("sig_a"))
    val rr = chunked.select(col("chunk"), col("chunk_val"), col("doc_id").as("doc_id_b"), col("simhash").as("sig_b"))
    l.join(rr, Seq("chunk", "chunk_val"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select("doc_id_a", "doc_id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id_a"), col("doc_id_b"), col("hamming").cast("int").as("hamming"))
  }

  // ---- Cluster / canonical assignment ---------------------------------------

  /** Connected components over a near-duplicate pair list: every document
    * gets `cluster_id` = the minimum doc id reachable through pairs, so the
    * canonical keeper per cluster is the row with `doc_id == cluster_id` —
    * the step that turns pairwise dedup output into per-document keep/drop
    * decisions in a training-data pipeline.
    *
    * Algorithm: iterative min-label propagation (the standard distributed CC
    * scheme — each round is one edge join + one min-aggregate, both plain
    * shuffles on the id). Rounds needed = graph diameter, which for
    * near-dup clusters (LSH-verified near-cliques) is tiny; the driver-side
    * loop only orchestrates — each iteration is fully distributed, and the
    * convergence probe is an `isEmpty` on the changed-label set. Labels are
    * checkpoint-cached per round so lineage stays O(1) deep instead of
    * O(iterations).
    */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
                          aCol: String, bCol: String, maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame =
    // per-round exchanges sized to the pair+node tables (guide §2 scale-
    // adaptive partitioning; see Graph.pagerankRun — no-op at scale)
    Parallelism.withInputSizedShuffle(Seq(pairs, nodes)) {
    val ckRoot = IterState.root(checkpointDir)
    // both directions in ONE pass over the pair lineage: a union of two
    // selects would evaluate the (possibly expensive) pair computation twice
    // before the cache materializes
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    var cached = nodes.select(col(idCol).as("id"), col(idCol).as("comp")).cache()
    var labels = cached
    // Pregel-style frontier: only nodes whose label CHANGED last round send
    // messages, so round 1 touches every edge once and later rounds only the
    // (rapidly shrinking, soon broadcast-sized) active boundary. One Spark
    // action per round: the changed-count aggregate doubles as the cache
    // materializer and the convergence probe.
    var frontier = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val mins = edges.join(frontier, col("dst") === col("id"))
        .groupBy(col("src").as("mid")).agg(min(col("comp")).as("cand"))
      // cache() keeps the round's state in memory (lineage depth is fine at
      // O(diameter) rounds); with `checkpointDir` set the state instead goes
      // through a reliable checkpoint ([[IterState]]) and survives executor
      // loss mid-loop.
      val updatedRaw = labels.join(mins, col("id") === col("mid"), "left")
        .select(col("id"),
          when(col("cand") < col("comp"), col("cand")).otherwise(col("comp")).as("comp"),
          (col("cand") < col("comp")).as("__chg"))
      val updated =
        if (checkpointDir.isDefined) IterState(updatedRaw, ckRoot, iter + 1)
        else updatedRaw.cache()
      val nChanged = updated
        .agg(sum(when(col("__chg"), 1L).otherwise(0L))).collect()(0).getLong(0)
      cached.unpersist()
      // reliable mode: round iter's files are no longer referenced (round
      // iter+1 is materialized, probe done) — delete them (IterState doc)
      if (iter >= 1) IterState.drop(cached, ckRoot, iter)
      cached = updated
      labels = updated.select("id", "comp")
      frontier = updated.filter(col("__chg")).select("id", "comp")
      converged = nChanged == 0
      iter += 1
    }
    edges.unpersist()
    // Unconverged labels are WRONG (non-minimal cluster ids), not
    // approximate — fail loudly rather than silently diverge (r3 advice).
    // Near-dup clusters are LSH-verified near-cliques, so hitting this
    // means maxIter was set far below the (pathological) graph diameter.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter iterations; " +
          "raise maxIter (rounds needed = graph diameter)")
    labels.select(col("id").as(idCol), col("comp").as("cluster_id"))
    }

  /** C4-style cross-corpus LINE deduplication (Raffel et al. 2020 §2.2
    * "we discarded all but one of any three-sentence span occurring more
    * than once"): segment every document into fixed `lineLen`-token lines,
    * hash each line, keep only the corpus-FIRST occurrence (ordered by
    * (doc_id, line_idx) — deterministic), and report each document's
    * duplicated-line fraction — the boilerplate-removal signal at line
    * grain, where whole-doc dedup sees nothing.
    *
    * Scale: the explode is corpus-token-sized but stateless; the
    * first-occurrence window partitions by the LINE HASH, so a partition
    * is one line's duplication multiplicity — bounded by how duplicated
    * the line is, never corpus-sized.
    */
  def lineDedup(docs: DataFrame, id: String, text: String,
                lineLen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs
      .select(col(id).as("doc_id"), TextAnalysis.words(col(text)).as("__w"))
      .select(col("doc_id"), col("__w"), size(col("__w")).cast("long").as("n"))
      .select(col("doc_id"), col("n"), col("__w"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), (n - 1) div $lineLen)"))
          .as("line_idx"))
      .withColumn("line", array_join(
        slice(col("__w"), (col("line_idx") * lineLen + 1).cast("int"),
          least(lit(lineLen.toLong), col("n") - col("line_idx") * lineLen).cast("int")),
        " "))
      .select(col("doc_id"), col("line_idx"), hash60(col("line")).as("lh"))
    val w = Window.partitionBy(col("lh")).orderBy(col("doc_id"), col("line_idx"))
    lines.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      .withColumn("dup_ratio",
        graft.functions.GraftFunctions.detRound(
          col("n_dup_lines").cast("double") / col("n_lines"), 4))
  }

  /** Duplicate-span fraction (the practical reading of Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better": a span is
    * duplicated text if it also occurs ELSEWHERE in the corpus): per
    * document, the fraction of its distinct word `n`-grams whose corpus
    * document-frequency is ≥ 2. Where [[lineDedup]] deletes at line grain
    * and [[minhashLshPairs]] finds whole-document twins, this scores how
    * much of EACH document is made of cross-document boilerplate — the
    * filter signal for "mostly templated" pages.
    *
    * Shape: distinct grams per doc (ShingleSet — docs shorter than n words
    * fall back to one whole-text gram, so every doc scores), gram
    * document-frequency via one map-side-combinable count on the 60-bit
    * gram hash, duplicated grams back to their docs via a semi join on the
    * same hash. Two shuffles, both keyed on the gram hash — never a corpus
    * self-join. At 100 TB the df-table side can be thinned to `df ≥ 2` rows
    * only (done here) or replaced by a Bloom filter of duplicated grams
    * ([[graft.operators.Sketches]] bloom machinery) when even that table is
    * too hot to join.
    */
  def duplicateSpanStats(docs: DataFrame, id: String, text: String,
                         n: Int = 5, flagThreshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(id).as("doc_id"),
      graft.functions.VectorExpressions.shingleSet(col(text), n).as("sh"))
    // ShingleSet is distinct-within-doc, so count(*) per hash == doc freq
    val grams = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), hash60(col("s")).as("h"))
    val dupGrams = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("h"))
    val perDoc = grams.join(dupGrams, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_fraction",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(graft.functions.GraftFunctions.detRound(
            col("n_dup").cast("double") / col("n_grams"), 4)))
      .withColumn("flagged", col("dup_fraction") >= flagThreshold)
  }

  /** Exact duplicated-substring spans (Lee et al. 2022, arXiv:2107.06499
    * §4.1 "ExactSubstr"): per document, the maximal token spans of length
    * ≥ `minLen` that also occur elsewhere in the corpus (any document, any
    * position — including elsewhere in the SAME document), merged into
    * islands (touching/overlapping spans coalesce), with coverage stats.
    * Unlike [[duplicateSpanStats]] (fixed n-gram HASH document frequency —
    * collision-possible, fraction only), this is hash-free and EXACT: two
    * positions share a class iff their `minLen`-token windows are
    * identical sequences.
    *
    * Shape — bounded prefix doubling (Manber–Myers suffix ranking, stopped
    * early): dense token ids via the two-pass offset scheme, then doubling
    * rounds build rank tables r_k with r_k[p] = r_k[q] ⇔ the 2^k-token
    * windows at p and q are equal — but only up to HALF the window: the
    * exact minLen-window class is composed from FOUR overlapping
    * (H/2)-windows at offsets (0, H/2, d, d + H/2) where
    * H = 2^⌊log2 minLen⌋ and d = minLen − H. Their union covers
    * [p, p + minLen) exactly and every token offset lies inside at least
    * one of them, so 4-tuple equality ⇔ window equality (the O(1)
    * substring-equality trick, one doubling round cheaper). Classes with
    * ≥ 2 members mark duplicated positions; a per-document interval union
    * turns positions into islands.
    *
    * 100 TB design: per-row state is TWO longs regardless of minLen (the
    * naive approach carries a minLen-token window per row); rounds are
    * ⌊log2 minLen⌋ − 1 — a CONSTANT (4 for the production minLen = 50),
    * NOT log(corpus) as in full suffix-array construction, because the
    * threshold semantics never needs ranks beyond half the window length.
    * Nothing is quadratic and nothing hashes, so no collision audit is
    * needed at any scale.
    *
    * Round shape — the neighbor rank r[pos + p] always lives in the SAME
    * document, so it arrives by `lead(r, p)` over a doc-partitioned window
    * instead of a corpus self-join: dropping each round's window-crossing
    * SUFFIX keeps every document's surviving positions a contiguous
    * prefix, which makes row-offset lead ≡ position-offset lookup for all
    * later rounds (a first-draft self-join version sorted the full corpus
    * 3× per round — 59 GB spill and 213 s at sf10; this shape measured
    * 34 s there with zero spill, ~3×/decade through sf10). One
    * repartition-by-document + sort feeds ALL rounds; each round then
    * either
    *  - PACKS the pair into one long, `r*(bound+1) + rb` — exact, ordered,
    *    zero shuffles — while the square of the current rank bound fits
    *    int64, or
    *  - dense-ranks the distinct pairs through
    *    [[Surrogate.zipWithIndexOrdered]] (no global window) to reset the
    *    bound to the live class count, when packing would overflow.
    * Single-host corpora compact once or twice on small class tables; a
    * 100 TB corpus (rank bound > ~3e9) degrades gracefully to one dense
    * rank per round — still equi-shuffles of (id, pos, rank) longs, never
    * wide payloads. The final duplicate-class count partitions by the
    * composed class pair and island merging partitions BY DOCUMENT
    * (bounded by document length). End-boundary note: the final compose's
    * lead(r, minLen − H) being non-null implies the full minLen window
    * fits the document — no sentinel ranks ever reach a compared class.
    */
  def exactSubstrSpans(docs: DataFrame, id: String, text: String,
                       minLen: Int = 20,
                       checkpointDir: Option[String] = None): DataFrame = {
    val (toks, dupPos) = exactSubstrDupPos(docs, id, text, minLen,
      checkpointDir)
    import org.apache.spark.sql.expressions.Window
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    // per-doc union of the intervals [pos, pos + minLen): a new island
    // starts when pos exceeds the running max end (touching spans merge)
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val islands = dupPos
      .withColumn("maxend", max(col("pos") + minLen).over(wPrev))
      .withColumn("newisl",
        when(col("maxend").isNull || col("pos") > col("maxend"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("newisl")).over(wRun))
      .groupBy(col("doc_id"), col("isl"))
      .agg((max(col("pos")) + minLen - min(col("pos"))).as("cov"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"), sum(col("cov")).as("dup_tokens"),
        max(col("cov")).as("longest_span"))
    docs.select(col(id).as("doc_id"))
      .join(lens, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .withColumn("dup_frac",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(graft.functions.GraftFunctions.detRound(
            col("dup_tokens").cast("double") / col("n_tokens"), 4)))
  }

  /** The ExactSubstr CLEANING transform (Lee et al. 2022 §4.1 apply the
    * dedup by cutting the duplicated substrings OUT of the corpus): every
    * token covered by some duplicated `minLen`-window is removed; the
    * survivors re-join into `clean_text` (single-space separated — the
    * tokenization is not inverse, so reconstruction is canonical-form).
    * Coverage is the same running-max-end pass the island union uses,
    * evaluated over ALL token positions this time: token t is covered iff
    * the max dup-window end among dup starts ≤ t exceeds t. One left
    * join of the token stream against dup starts + one doc-partitioned
    * window + one doc-grouped collect; the collect buffers a document,
    * bounded by document length at any corpus size.
    */
  def exactSubstrClean(docs: DataFrame, id: String, text: String,
                       minLen: Int = 20,
                       checkpointDir: Option[String] = None): DataFrame = {
    val (toks, dupPos) = exactSubstrDupPos(docs, id, text, minLen,
      checkpointDir)
    import org.apache.spark.sql.expressions.Window
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val marked = toks.join(
      dupPos.withColumn("dupend", col("pos") + minLen),
      Seq("doc_id", "pos"), "left")
      .withColumn("covend", max(col("dupend")).over(wRun))
      .withColumn("keep",
        col("covend").isNull || col("pos") >= col("covend"))
    val perDoc = marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
      array_join(transform(
        array_sort(collect_list(
          when(col("keep"), struct(col("pos"), col("tok"))))),
        x => x.getField("tok")), " ").as("clean_text"))
    docs.select(col(id).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Shared ExactSubstr core: (token stream, duplicated window starts).
    * See [[exactSubstrSpans]] for the full design rationale.
    *
    * `checkpointDir` switches state persistence from lazy local
    * checkpoints (bench scale) to [[IterState]] reliable parquet rounds
    * with previous-round rotation — at sf100 (800M positions, one dense
    * rank) the accumulated local checkpoint blocks alone exceed this
    * host's free disk, while rotated delta-packed parquet rounds fit.
    * Read-back loses the (doc_id, pos) layout, so the first window after
    * each reliable round pays one re-sort — rounds between compactions
    * stay zero-shuffle either way. */
  private def exactSubstrDupPos(docs: DataFrame, id: String, text: String,
                                minLen: Int,
                                checkpointDir: Option[String])
  : (DataFrame, DataFrame) = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val ckRoot = IterState.root(checkpointDir)
    var ckRound = 0
    var liveStateRound = -1
    // persist a STATE round (rotates out the previous one) or a side
    // table (caller drops it via the returned round id)
    def persistState(df: DataFrame): DataFrame = ckRoot match {
      case Some(_) =>
        val out = IterState.apply(df, ckRoot, ckRound)
        if (liveStateRound >= 0) IterState.drop(df, ckRoot, liveStateRound)
        liveStateRound = ckRound
        ckRound += 1
        out
      case None => df.localCheckpoint(false)
    }
    def persistSide(df: DataFrame): (DataFrame, Int) = ckRoot match {
      case Some(_) =>
        val out = IterState.apply(df, ckRoot, ckRound)
        ckRound += 1
        (out, ckRound - 1)
      case None => (df.localCheckpoint(false), -1)
    }
    def dropSide(round: Int): Unit =
      if (round >= 0) IterState.drop(docs, ckRoot, round)
    val toks = docs
      .select(col(id).as("doc_id"),
        posexplode(regexp_extract_all(col(text),
          lit(graft.operators.TextAnalysis.TokenPattern), lit(0))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tok"))
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // dense token ids: vocabulary-sized rank, deterministic (token order)
    val vocab = Surrogate.zipWithIndexOrdered(
      toks.select(col("tok")).distinct(), "r0", Seq(col("tok")))
    var state = persistState(toks.join(vocab, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("r0").as("r"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("pos")))
    def maxRank(): Long = state.agg(max(col("r"))).collect()
      .headOption.filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    // packing r*(bound+1)+rb is exact while (bound+1)^2 fits int64
    val packMax = 3000000000L
    var bound = maxRank()
    var p = 1
    val H = Integer.highestOneBit(minLen) // 2^⌊log2 minLen⌋
    val HW = H / 2 // ranks are only ever needed for half-windows
    while (p < HW) {
      // row-offset lead ≡ position-offset lookup: survivors are a prefix
      val next = state.withColumn("rb", lead(col("r"), p).over(wDoc))
        .filter(col("rb").isNotNull)
      if (bound < packMax) {
        state = next.select(col("doc_id"), col("pos"),
          (col("r") * (bound + 1) + col("rb")).as("r"))
        bound = (bound + 1) * (bound + 1) - 1
      } else {
        // compact: dense-rank the live pair classes, resetting the bound
        // (persisted so the rank table's lineage — and attribute ids —
        // are severed from `next` before the join back onto it)
        val (pairTable, pairRound) = persistSide(
          next.select(col("r").as("ra"), col("rb").as("rb2")).distinct())
        val classes = Surrogate.zipWithIndexOrdered(pairTable, "nr",
          Seq(col("ra"), col("rb2")))
        state = persistState(next.join(classes,
          col("r") === col("ra") && col("rb") === col("rb2"))
          .select(col("doc_id"), col("pos"), col("nr").as("r"))
          .repartition(col("doc_id"))
          .sortWithinPartitions(col("doc_id"), col("pos")))
        dropSide(pairRound)
        bound = maxRank()
      }
      p *= 2
    }
    // compose the exact minLen-window class from four overlapping
    // (H/2)-windows; the LARGEST lead offset (d + H/2, the sub-window
    // ending exactly at the minLen window's end) being non-null implies
    // pos + minLen - 1 fits the document, and implies the smaller offsets
    val d = minLen - H
    val classed =
      if (H == 1) state.select(col("doc_id"), col("pos"),
        col("r").as("k1"), col("r").as("k2"), col("r").as("k3"),
        col("r").as("k4"))
      else state
        .withColumn("k2", lead(col("r"), HW).over(wDoc))
        .withColumn("k3", if (d == 0) col("r") else
          lead(col("r"), d).over(wDoc))
        .withColumn("k4", if (d == 0) col("k2") else
          lead(col("r"), d + HW).over(wDoc))
        .filter(col("k4").isNotNull)
        .select(col("doc_id"), col("pos"), col("r").as("k1"),
          col("k2"), col("k3"), col("k4"))
    // duplicated positions: class population ≥ 2, counted in one windowed
    // pass over the class partitioning (no aggregate + join-back)
    val dupPos = classed
      .withColumn("c", count(lit(1)).over(
        Window.partitionBy(col("k1"), col("k2"), col("k3"), col("k4"))))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("pos"))
    (toks, dupPos)
  }
}
