package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{detRound, stableSumScaled, truncUtc}

/** Probabilistic sketches for corpus statistics at 100 TB — the class of
  * operator where an exact answer needs a vocabulary-sized shuffle but a
  * sketch needs only a constant-size state per group (SURVEY.md §7.5).
  *
  * Everything here is DETERMINISTIC (md5-derived hashing, integer register
  * arithmetic) so the sketches are bit-identical across engines, reruns and
  * partitionings — and therefore oracle-checkable in DuckDB, unlike Spark's
  * own `approx_count_distinct`/`count_min_sketch` whose internal hashing is
  * engine-private.
  *
  * Scale design: both sketches are pure map-side-combinable aggregates —
  * the HLL registers are a per-(group, bucket) max, the CMS cells a
  * per-(row, col) sum — so a 1000-executor run moves only
  * O(groups × sketch_size) rows through the one shuffle, independent of
  * corpus size.
  */
object Sketches {

  /** HLL bucket count m = 2^6. Registers hold rho ∈ [1, 55] (60-bit hash
    * minus 6 bucket bits leaves a 54-bit pattern; rho = leftmost-one
    * position, 55 when the pattern is all zeros). The indicator sum is kept
    * as the INTEGER Σ 2^(55−rho) ≤ 64·2^55 < 2^63 — exact in a long, so
    * summation order cannot perturb the estimate on any engine.
    */
  val HllBuckets = 64

  /** Per-group HyperLogLog distinct estimate of `item`, next to the exact
    * distinct count (the correctness anchor the estimate is judged against).
    *
    * Emits: group, exact_distinct, hll_est (raw HLL formula, rounded),
    * n_empty_buckets. The small-range linear-counting correction is omitted
    * on purpose: it needs ln(), whose last-ulp rounding is libm-specific —
    * the raw formula is IEEE-deterministic end to end (integer registers,
    * one long→double conversion, correctly-rounded * and /).
    */
  /** (bucket, rho) derivation for one hashed item — shared by every HLL
    * shape below. */
  private[graft] def withBucketRho(df: DataFrame): DataFrame =
    df.withColumn("bucket", col("h") % HllBuckets)
      .withColumn("pat", expr(s"h div $HllBuckets")) // integer division
      .withColumn("rho",
        when(col("pat") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("pat")))).cast("int"))

  /** Registers → estimate: alpha_m · m² · 2^55 / S with S the exact integer
    * indicator sum — written with the same literal shape as the oracle SQL
    * so every IEEE op sees identical operands in the same order.
    */
  private[graft] def estimateFromRegisters(regs: DataFrame, groupName: String): DataFrame = {
    // Typed DOUBLE literals, NOT a SQL string (r12, caught by the sf1
    // oracle): in `expr(...)` the decimal-point literals parse as
    // DecimalType, so the constant prefix used DECIMAL division/rounding —
    // off the IEEE-double value by ~5e-4 relative at this magnitude —
    // where DuckDB's evaluation of the same text is double end-to-end
    // (verified: its result is bit-equal to the pure-double left-assoc
    // fold for arbitrary S). The divergence only SHOWS when an estimate
    // lands within that margin of a detRound(…,2) boundary — 1 row in 30
    // at sf1, zero at sf0.1 — exactly the class the tri-scale gate exists
    // to catch. Scala double lits make the engine the same left-assoc IEEE
    // sequence the oracle computes.
    val est = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0)) *
      lit(4096.0) * lit(36028797018963968.0) / col("s").cast("double")
    regs.groupBy(col(groupName)).agg(
      count(lit(1)).as("npres"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - m)")).as("sp"))
      // empty buckets contribute 2^55 each (rho = 0)
      .withColumn("s", col("sp") +
        (lit(HllBuckets) - col("npres")) * expr("shiftleft(CAST(1 AS BIGINT), 55)"))
      .withColumn("n_empty_buckets", (lit(HllBuckets) - col("npres")).cast("long"))
      .select(col(groupName), detRound(est, 2).as("hll_est"), col("n_empty_buckets"))
  }

  def hllDistinct(df: DataFrame, group: Column, item: Column): DataFrame = {
    // Dedup (grp, item) FIRST: duplicates cannot change a max-register or a
    // distinct count, and the dedup aggregate combines map-side — so the
    // hash/register work downstream runs over |distinct items|, not |rows|.
    // NULL is not an item (the countDistinct convention) — unfiltered it
    // would hash to a null-bucket register row that inflates npres while
    // its null weight is skipped by sum(), silently biasing the estimate.
    val uniq = df.select(group.as("grp"), item.as("it"))
      .filter(col("it").isNotNull).distinct()
    val rows = withBucketRho(uniq.withColumn("h", Dedup.hash60(col("it"))))
    val regs = rows.groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("m"))
    val exact = rows.groupBy(col("grp")).agg(count(lit(1)).as("exact_distinct"))
    exact.join(estimateFromRegisters(regs, "grp"), Seq("grp"))
      .select(col("grp"), col("exact_distinct"), col("hll_est"), col("n_empty_buckets"))
  }

  /** The property that makes HLL the 100 TB answer: registers MERGE by
    * element-wise max. Here the per-(day, hour) register tables — the
    * small persisted artifacts an hourly pipeline would keep — roll up to
    * a per-day estimate without ever revisiting the raw rows, next to the
    * exact daily distinct as the correctness anchor. Merge of a day's
    * hours ≡ computing the day's registers directly (max is associative),
    * which is exactly what the oracle mirrors.
    */
  def hllMergedDaily(df: DataFrame, ts: Column, item: Column): DataFrame = {
    // same dedup-first shape as hllDistinct, at (day, hour, item) grain
    val uniq = df.select(truncUtc("day", ts).as("day"),
      truncUtc("hour", ts).as("hour"), item.as("it"))
      .filter(col("it").isNotNull).distinct() // null-is-not-an-item, as hllDistinct
    val rows = withBucketRho(uniq.withColumn("h", Dedup.hash60(col("it"))))
    val hourly = rows.groupBy(col("day"), col("hour"), col("bucket"))
      .agg(max(col("rho")).as("m"))
    val daily = hourly.groupBy(col("day"), col("bucket")).agg(max(col("m")).as("m"))
    val exact = rows.groupBy(col("day")).agg(countDistinct(col("it")).as("exact_distinct"))
    exact.join(estimateFromRegisters(daily, "day"), Seq("day"))
      .select(col("day"), col("exact_distinct"), col("hll_est"), col("n_empty_buckets"))
  }

  /** Sliding-window distinct estimate — the query exact computation cannot
    * survive at scale: trailing-24h distinct users per hour needs the raw
    * identity set for every window if done exactly, but with HLL registers
    * it is a pure register-merge: keep the per-(hour, bucket) max-rho table
    * (64 longs per hour, the persisted artifact), then each hourly register
    * contributes to the 24 windows it falls in (the hopping-window explode,
    * events_sliding's trick) and merges by max. Cost per output hour is
    * 24×64 tiny rows — independent of event volume.
    *
    * Emitted hours are restricted to hours present in the data (tail
    * windows past the last event would otherwise trail off the end).
    */
  def hllSlidingDistinct(df: DataFrame, ts: Column, item: Column,
                         windowHours: Int = 24): DataFrame = {
    val uniq = df.select(truncUtc("hour", ts).as("hour"), item.as("it"))
      .filter(col("it").isNotNull).distinct() // null-is-not-an-item, as hllDistinct
    val rows = withBucketRho(uniq.withColumn("h", Dedup.hash60(col("it"))))
    val hourly = rows.groupBy(col("hour"), col("bucket")).agg(max(col("rho")).as("m"))
    val contrib = hourly
      .withColumn("k", explode(sequence(lit(0), lit(windowHours - 1))))
      .withColumn("win_hour",
        expr("hour + make_interval(0, 0, 0, 0, CAST(k AS INT), 0, 0)"))
    val merged = contrib.groupBy(col("win_hour"), col("bucket"))
      .agg(max(col("m")).as("m"))
    val actualHours = uniq.select(col("hour").as("win_hour")).distinct()
    estimateFromRegisters(
      merged.join(actualHours, Seq("win_hour"), "left_semi"), "win_hour")
      .withColumnRenamed("win_hour", "hour")
  }

  /** Count-min sketch geometry: d independent hash rows × w columns. */
  val CmsRows = 4
  val CmsWidth = 256

  /** Column index of `term` in CMS hash row `r` — md5-derived, portable. */
  def cmsCol(term: Column, r: Int): Column =
    Dedup.hash60(concat(lit(s"cms$r|"), term)) % CmsWidth

  /** The d (r, c) CMS cells of `term` as ONE exploded struct column — the
    * single definition of the cell derivation every sketch build and probe
    * (here and in the streaming twins) explodes, so a change to the hash or
    * cast cannot leave one site behind. */
  def cmsCells(term: Column): Column =
    explode(array((0 until CmsRows).map(r =>
      struct(lit(r).as("r"), cmsCol(term, r).cast("long").as("c"))): _*))

  /** Heavy hitters with CMS verification: the exact top-k terms (TakeOrdered
    * — no global sort materialization) joined against their count-min
    * estimate, which by construction never under-counts. Emits term,
    * exact_cnt, cms_est — the overestimate column is the sketch's collision
    * noise, the quantity you size w against at scale.
    */
  def cmsHeavyHitters(terms: DataFrame, term: Column, k: Int): DataFrame = {
    val t = terms.select(term.as("term"))
    // ONE pass over the raw stream (the term-count aggregate); the sketch
    // cells are sums of term counts — identical values, but derived from
    // the vocabulary-sized table instead of a second stream explode
    val tc = t.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val sketch = tc.select(col("cnt"), cmsCells(col("term")).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(sum(col("cnt")).as("cnt"))
    val topk = tc.withColumnRenamed("cnt", "exact_cnt")
      .orderBy(col("exact_cnt").desc, col("term")).limit(k)
    val probes = topk.select(col("term"), col("exact_cnt"),
        cmsCells(col("term")).as("rc"))
      .select(col("term"), col("exact_cnt"), col("rc.r").as("r"), col("rc.c").as("c"))
    // inner join is safe here by construction: every top-k term came from
    // tc, so all its cells exist in the sketch (contrast cmsEstimate, whose
    // probe list is open-ended)
    probes.join(sketch, Seq("r", "c"))
      .groupBy(col("term"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("overestimate", col("cms_est") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("term"))
  }

  /** Per-group [[histogramQuantiles]]: the same mergeable fixed-bin sketch,
    * keyed — (group, bin) counts in one map-side-combinable aggregate, then
    * the cumulative pass as a window PARTITIONED BY GROUP over the
    * post-aggregation bin table (per-partition size = that group's bin
    * count, a domain constant). The grouped-percentile shape
    * (`p50/p95 per language/source/tenant`) that an exact per-group
    * percentile would pay a full sort per group for.
    */
  def histogramQuantilesByGroup(df: DataFrame, group: Column, value: Column,
                                binWidth: Double, ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = df
      .select(group.as("g"), floor(value / binWidth).cast("long").as("bin"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("cnt"))
    val n = binned.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    val cum = binned.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("g")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val sp = df.sparkSession
    import sp.implicits._
    val targets = n.crossJoin(broadcast(ps.toDF("p")))
      .withColumn("target", ceil(col("p") * col("n")).cast("long"))
    val chosen = cum.join(targets, Seq("g"))
      .filter(col("cum") >= col("target"))
      .groupBy(col("g"), col("p"), col("target"), col("n"))
      .agg(min(col("bin")).as("bin"))
    chosen.join(cum, Seq("g", "bin"))
      .withColumn("estimate", detRound(
        col("bin") * lit(binWidth) + lit(binWidth) *
          (col("target") - (col("cum") - col("cnt"))).cast("double") / col("cnt"), 4))
      .select(col("g"), col("p"), col("n"), col("target"), col("bin"), col("estimate"))
  }

  /** Probe a prebuilt CMS cell table (r, c, cnt) — e.g. one materialized by
    * the streaming register build — for each term in `terms`: the estimate
    * is the min over the d hash rows. A cell ABSENT from the sketch table
    * means no term ever hashed there, i.e. its counter is 0 — so a
    * never-observed probe term reports cms_est = 0 instead of silently
    * vanishing (left join + coalesce, not an inner join that would drop
    * the term's rows). */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, term: Column): DataFrame = {
    // project the term first: deriving the cell columns from an alias made
    // in the same select would be a lateral column alias under a generator
    val probes = terms.select(term.as("term"))
      .select(col("term"), cmsCells(col("term")).as("rc"))
      .select(col("term"), col("rc.r").as("r"), col("rc.c").as("c"))
    probes.join(sketch, Seq("r", "c"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Fixed-bin histogram quantile sketch: estimate percentiles from
    * per-bin counts plus linear interpolation inside the winning bin — the
    * mergeable alternative to an exact percentile when the data is 100 TB:
    * bin counts are one map-side-combinable hash aggregate (merge of two
    * sketches = element-wise sum, same mergeability story as the HLL
    * registers), and the error is bounded by one bin width.
    *
    * The cumulative pass runs over the POST-AGGREGATION bin table, whose
    * size is domain/binWidth — a constant, not a data-sized partition — so
    * the tiny ordered window here is not the global-window scale trap.
    * Estimate arithmetic is integer counts + IEEE mult/div only.
    *
    * Emits per requested fraction p: the target rank ceil(p·n), the winning
    * bin and the interpolated estimate.
    */
  def histogramQuantiles(df: DataFrame, value: Column, binWidth: Double,
                         ps: Seq[Double]): DataFrame =
    // the grouped sketch with a constant group — ONE copy of the
    // oracle-parity-critical interpolation formula (an edit to one
    // path can no longer leave the other, and its mirror, divergent);
    // a single-group window ≡ the old global window over the tiny
    // post-aggregation bin table
    histogramQuantilesByGroup(df, lit(1), value, binWidth, ps)
      .select(col("p"), col("n"), col("target"), col("bin"), col("estimate"))

  /** Join-size estimation from two count-min sketches (the AGMS family):
    * the inner product of row r's counters, Σ_c A[r,c]·B[r,c], equals the
    * true join size Σ_k a(k)·b(k) plus non-negative collision noise — take
    * the min over the d rows. The planner-grade statistic: estimate
    * |A ⋈ B| from two 1 KB sketches built in one pass per side, without
    * ever forming a pair. Never under-estimates (spec-pinned), mergeable
    * like every CMS.
    */
  def cmsJoinSizeEstimate(a: DataFrame, aKey: Column,
                          b: DataFrame, bKey: Column): DataFrame = {
    val ka = a.select(aKey.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("ca"))
    val kb = b.select(bKey.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("cb"))
    def sketch(t: DataFrame, cnt: String) = t.select(col(cnt),
        cmsCells(col("k")).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c")).agg(sum(col(cnt)).as(cnt))
    // a (r, c) cell absent from either sketch has counter 0 and contributes
    // 0 to that row's inner product — so every hash row must survive to the
    // min even when NO cells overlap (the true-join-size-0 case, where the
    // inner product 0 is exactly the right, tightest estimate). An inner
    // join alone would drop such rows and report NULL (no overlap anywhere)
    // or an inflated min (some rows overlap, the zero rows silently gone).
    val overlap = sketch(ka, "ca").join(sketch(kb, "cb"), Seq("r", "c"))
      .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("est"))
    val rowIds = a.sparkSession.range(CmsRows)
      .select(col("id").cast("int").as("r"))
    val perRow = rowIds.join(overlap, Seq("r"), "left")
      .select(coalesce(col("est"), lit(0L)).as("est"))
    val est = perRow.agg(min(col("est")).as("cms_est"))
    val exact = ka.join(kb, Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_join_size"))
    exact.crossJoin(broadcast(est))
      .withColumn("overestimate", col("cms_est") - col("exact_join_size"))
  }

  /** Distinct-set INTERSECTION estimate from HLL sketches via
    * inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    * union estimate is free because HLL registers merge by max. The
    * overlap question ("how many customers are in both years?") answered
    * from three 64-long register tables instead of a distinct-set join —
    * next to the exact intersection as the anchor.
    */
  def hllIntersectEstimate(a0: DataFrame, b0: DataFrame): DataFrame = {
    // null-is-not-an-item across BOTH the estimates and the exact anchor
    // (set-op INTERSECT would otherwise match null to null)
    val a = a0.filter(col("it").isNotNull)
    val b = b0.filter(col("it").isNotNull)
    def estOf(items: DataFrame, name: String) = {
      val regs = withBucketRho(items.distinct().withColumn("h", Dedup.hash60(col("it"))))
        .groupBy(lit("g").as("g"), col("bucket")).agg(max(col("rho")).as("m"))
      estimateFromRegisters(regs, "g").select(col("hll_est").as(name))
    }
    val exact = a.intersect(b).agg(count(lit(1)).as("exact_intersect"))
    estOf(a, "est_a").crossJoin(estOf(b, "est_b"))
      .crossJoin(estOf(a.unionAll(b), "est_union"))
      .crossJoin(exact)
      .withColumn("est_intersect",
        detRound(col("est_a") + col("est_b") - col("est_union"), 2))
  }

  /** Bloom-filter geometry: m bits, k hash functions. */
  val BloomBits = 4096
  val BloomHashes = 4

  /** Bit position of `item` under bloom hash `i` — the same portable
    * Kirsch–Mitzenmacher double-hash family as the minhash signature:
    * (h1 + i·h2') mod m, with h2' < 1e9+7 so the sum never overflows
    * BIGINT on either engine for i < 64.
    */
  def bloomBit(item: Column, i: Int): Column =
    (Dedup.hash60(item) + lit(i.toLong) * Dedup.hash60b(item)) % BloomBits

  /** The k bloom bit positions of `item` as ONE exploded column — the
    * single definition shared by [[bloomProbe]] and the streaming ingest
    * dedup, like [[cmsCells]] for the CMS family. */
  def bloomPositions(item: Column): Column =
    explode(array((0 until BloomHashes).map(i =>
      bloomBit(item, i).cast("long")): _*))

  /** Relational Bloom filter: the filter is a table of SET BIT POSITIONS
    * (≤ m rows, one hash-distinct pass over the build side), a probe is k
    * generated positions semi-matched against it, and an item "hits" iff
    * all k positions are set. The membership structure that ships as a
    * broadcast table instead of an opaque bitmap — merge two filters by
    * UNION of their bit tables, exactly the mergeability story of the HLL
    * registers.
    *
    * Emits one row of the probe audit: n_probes, n_members (exact),
    * n_bloom_hits, n_false_pos, n_false_neg. The Bloom contract —
    * no false negatives, ever — is the n_false_neg = 0 column; n_false_pos
    * is the collision noise you size m/k against at scale.
    */
  def bloomProbe(build: DataFrame, buildItem: Column,
                 probe: DataFrame, probeItem: Column): DataFrame = {
    val bi = build.select(buildItem.cast("string").as("it")).distinct()
    val pi = probe.select(probeItem.cast("string").as("it")).distinct()
    def positions(items: DataFrame) =
      items.select(col("it"), bloomPositions(col("it")).as("pos"))
    val bits = positions(bi).select(col("pos")).distinct()
    val hits = positions(pi).join(bits, Seq("pos"), "left_semi")
      .groupBy(col("it")).agg(count(lit(1)).as("n_set"))
      .filter(col("n_set") === BloomHashes).select(col("it"))
    val audited = pi
      .join(bi.select(col("it"), lit(true).as("member")), Seq("it"), "left")
      .join(hits.select(col("it"), lit(true).as("hit")), Seq("it"), "left")
      .select(coalesce(col("member"), lit(false)).as("member"),
        coalesce(col("hit"), lit(false)).as("hit"))
    audited.agg(count(lit(1)).as("n_probes"),
      sum(when(col("member"), 1L).otherwise(0L)).as("n_members"),
      sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
      sum(when(col("hit") && !col("member"), 1L).otherwise(0L)).as("n_false_pos"),
      sum(when(col("member") && !col("hit"), 1L).otherwise(0L)).as("n_false_neg"))
  }

  /** Bloom semi-join REDUCTION — the runtime-filter pattern that makes a
    * 100 TB probe-side join cheap. The build side's keys compress into a
    * CONSTANT-size artifact (the m-bit bloom bitmap, packed into ≤ m/64
    * longs via bit_or and shipped as ONE broadcast row), the probe side
    * keeps only rows whose k bloom positions are all set — a pure codegen
    * per-row predicate, no explode, no shuffle — and only the surviving
    * fraction reaches the exact semi join. Blooms have no false negatives,
    * so the result is EXACTLY the semi join (false positives are removed
    * by the final exact join); the bloom stage exists to cut the join's
    * probe input from |probe| to |matches| + ε·|probe|. This is the
    * manual, oracle-checkable form of Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter` injection.
    *
    * Returns the probe rows that survive (the exact semi join), original
    * columns intact.
    */
  def bloomReduceJoin(build: DataFrame, buildKey: Column,
                      probe: DataFrame, probeKey: Column): DataFrame = {
    // staging-column names are derived to MISS the probe's own schema — a
    // probe that already carries a `__k`/`__bm` would otherwise be silently
    // overwritten and dropped, breaking the original-columns-intact
    // contract (ADVICE r10)
    val taken = probe.columns.toSet
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .filterNot(taken.contains).next()
    val kCol = fresh("__k")
    val bmCol = fresh("__bm")
    val pow2 = array((0 until 64).map(i => lit(1L << i)): _*)
    // null build keys can never match an equi semi join — and unfiltered
    // they would ride a null bit position into map_from_entries, which
    // rejects null map keys at runtime
    val keys = build.select(buildKey.cast("string").as(kCol))
      .filter(col(kCol).isNotNull).distinct()
    // one row: map word-index -> packed 64-bit word of set bloom bits
    val bitmap = keys.select(bloomPositions(col(kCol)).as("pos")).distinct()
      .select(shiftright(col("pos"), 6).cast("int").as("w"),
        element_at(pow2, (col("pos") % 64).cast("int") + 1).as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("word"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("word")))).as(bmCol))
    val probed = probe.withColumn(kCol, probeKey.cast("string"))
      .crossJoin(broadcast(bitmap))
    val allSet = (0 until BloomHashes).map { i =>
      val pos = bloomBit(col(kCol), i).cast("long")
      coalesce(
        element_at(col(bmCol), shiftright(pos, 6).cast("int"))
          .bitwiseAND(element_at(pow2, (pos % 64).cast("int") + 1)) =!= 0,
        lit(false))
    }.reduce(_ && _)
    probed.filter(allSet).drop(bmCol)
      .join(keys, Seq(kCol), "left_semi")
      .drop(kCol)
  }

  /** Winsorized aggregate: clip values at the [[histogramQuantiles]]
    * p-quantile estimate before summing — the feature-engineering step that
    * stops one whale from owning a mean. Composition of two scale-safe
    * pieces: the sketch threshold (mergeable bin counts) broadcasts as one
    * row, then the clip is a stateless per-row `least` inside the final
    * aggregate scan. Emits raw vs winsorized sums, the threshold, and the
    * clipped-row count.
    */
  def winsorizedSum(df: DataFrame, value: Column, binWidth: Double,
                    p: Double): DataFrame = {
    val thr = histogramQuantiles(df, value, binWidth, Seq(p))
      .select(col("estimate").as("threshold"))
    df.select(value.cast("double").as("v")).crossJoin(broadcast(thr))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v") > col("threshold"), 1L).otherwise(0L)).as("n_clipped"),
        detRound(stableSumScaled(col("v"), 4), 2).as("sum_raw"),
        detRound(stableSumScaled(least(col("v"), col("threshold")), 4), 2)
          .as("sum_winsorized"))
  }
}
