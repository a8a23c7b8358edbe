package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.detRound
import graft.functions.VectorExpressions.dotFP

/** Similarity search over an embedding column (`array<float>`) —
  * SURVEY.md §7.5 extension; no reference counterpart.
  *
  * All math is double-precision sequential left-folds so results are
  * bit-deterministic and reproducible by the oracle engine's list functions.
  * The fold is evaluated by the native codegen'd [[dotFP]] expression (same
  * op order as `aggregate(zip_with(...))`, no per-pair array allocation) and
  * norms are computed ONCE per row before the quadratic pair join — together
  * ~10× less work per pair than re-deriving both norms pairwise.
  */
object Similarity {

  /** Left-fold dot product of two float vectors in double precision
    * (expression-tree form — the semantic reference the oracle mirrors were
    * validated against; the operators below use the native [[dotFP]], which
    * VectorExpressionsSpec("dotFP equals the aggregate(zip_with) fold
    * exactly") pins BIT-identical to this form, so the two can never drift
    * silently).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = try_divide(dot(a, b), norm(a) * norm(b))

  /** Brute-force cosine top-k: queries × corpus. The corpus side streams;
    * the (small) query set is broadcast, so this is a map-side nested loop —
    * the correctness baseline every ANN variant is measured against. At
    * 100 TB this runs as one scan of the corpus per query batch.
    *
    * Ordering is by the detRound(4)-quantized similarity (cross-engine
    * deterministic) with vec_id as tiebreak.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding").as("emb_c"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_c"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_q"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_q"), col("emb_c")), col("norm_q") * col("norm_c")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane coefficient for (plane, dim):
    * md5-derived value in [-0.5, 0.5). md5 is identical in every engine, so
    * the DuckDB oracle recomputes the exact same planes in SQL
    * (OracleSql.annLshSql); the engine bakes them in as LITERAL arrays at
    * plan build — zero hashing at runtime.
    */
  def planeCoeff(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$p#$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L).toDouble / 1000000.0 - 0.5
  }

  private def planeVector(p: Int, dim: Int): Column =
    array((0 until dim).map(d => lit(planeCoeff(p, d))): _*)

  /** Sign-random-projection bucket (nBits-bit LSH key) for a vector: bit p
    * is the sign of the projection onto literal hyperplane p, computed by
    * the native dot expression.
    */
  def srpBucket(v: Column, dim: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { p =>
      when(dotFP(v, planeVector(p, dim)) > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed ANN (the scale path): corpus is pre-bucketed by the
    * nBits-bit SRP key; a query only scans its own bucket. Multi-probe
    * (flipping one bit) keeps recall reasonable at small nBits. At 100 TB
    * the bucket column becomes the table's partition key, so a query touches
    * (nBits+1)/2^nBits of the data instead of all of it.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
              nBits: Int = 8): DataFrame = {
    val c = corpus.select(col("vec_id"), col("embedding").as("emb_c"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_c"),
      srpBucket(col("embedding"), dim, nBits).as("bucket"))
    // multi-probe: the query's own bucket plus every 1-bit-flip neighbor
    val probes = explode(array((lit(-1) +: (0 until nBits).map(lit(_))): _*))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_q"),
      srpBucket(col("embedding"), dim, nBits).as("qbucket"))
      .withColumn("flip", probes)
      .withColumn("bucket", when(col("flip") === -1, col("qbucket"))
        .otherwise(col("qbucket").bitwiseXOR(expr("shiftleft(CAST(1 AS BIGINT), flip)"))))
      .select(col("query_id"), col("emb_q"), col("norm_q"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_q"), col("emb_c")), col("norm_q") * col("norm_c")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold. Brute force
    * within the corpus here (correctness anchor); the LSH bucket join is the
    * scale path (see [[lshTopK]]).
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    // corpus side fanned out (guide §2.4; no-op at scale): this is the
    // brute-force O(n²) anchor — a BroadcastNestedLoopJoin whose stream
    // side otherwise runs inside a single-split source's one scan task
    // (measured r17: 2.9 s -> 0.9 s on local[32]). The other Similarity
    // operators were A/B-measured and deliberately NOT fanned out: their
    // per-row work over the small embedding table is under the per-task
    // scheduling overhead the extra partitions cost (+6 s net across the
    // ANN subset when fanned).
    val withNorm = Parallelism.fanOut(
        corpus.select(col("vec_id"), col("embedding")), Seq(col("vec_id")))
      .select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
    val a = withNorm.select(col("vec_id").as("vec_id_a"), col("embedding").as("emb_a"),
      col("nrm").as("norm_a"))
    val b = withNorm.select(col("vec_id").as("vec_id_b"), col("embedding").as("emb_b"),
      col("nrm").as("norm_b"))
    a.join(b, col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_a"), col("emb_b")), col("norm_a") * col("norm_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos"))
  }

  /** Per-label embedding centroid, fully relational and cross-engine exact:
    * element values are quantized to 1e-6 BEFORE summing (integer sums are
    * associative — raw float sums depend on aggregation order and diverge
    * across engines), then divided back. Shape: posexplode → (label, pos)
    * partial+final sum — one map-side-combinable shuffle; the centroid
    * array is reassembled by sorting (pos, mean) structs.
    */
  def labelCentroids(emb: DataFrame, quantScale: Double = 1e6): DataFrame = {
    val perPos = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("col").cast("double") * quantScale + 0.5)).as("s"),
        count(lit(1)).as("n"))
    perPos.groupBy(col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => detRound(x.getField("s") / quantScale / x.getField("n"), 6)).as("centroid"),
        max(col("n")).as("n_vectors"))
  }

  /** LSH-bucketed near-duplicate pairs — the scale path for
    * [[cosineNearDupPairs]]: candidate pairs only form INSIDE an SRP bucket,
    * so the quadratic step runs over ~n²/2^nBits pairs instead of n²/2. The
    * price is recall < 1 (a near-dup pair split across buckets is missed —
    * raise recall with band-OR over several independent bucket sets);
    * everything that IS emitted carries the exact cosine. No multi-probe
    * here: the bucket set must be a pure function of the vector so the pair
    * appears exactly once and the oracle can mirror it.
    */
  def lshNearDupPairs(corpus: DataFrame, dim: Int, threshold: Double,
                      nBits: Int = 8): DataFrame = {
    val withB = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"),
      srpBucket(col("embedding"), dim, nBits).as("bucket"))
    val a = withB.select(col("bucket"), col("vec_id").as("vec_id_a"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"))
    val b = withB.select(col("bucket"), col("vec_id").as("vec_id_b"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_a"), col("emb_b")), col("norm_a") * col("norm_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos"))
  }

  /** One Lloyd (k-means) refinement step over the IVF seed centroids: assign
    * every vector to its nearest centroid by cosine (deterministic tiebreak),
    * then emit each cell's recomputed mean — the index-build iteration a
    * production IVF runs a handful of times. Composable: feed the output
    * back as the next step's centroid set (each step is one broadcast join +
    * one map-side-combinable aggregate — O(iterations) jobs, never a
    * driver-side loop over vectors).
    *
    * Cross-engine determinism is the [[labelCentroids]] recipe: element
    * values quantize to 1e-6 integers BEFORE summing, so aggregation order
    * cannot perturb the new centroids; emitted exploded (cell, pos, value).
    */
  def kmeansStep(corpus: DataFrame, centroidEvery: Int = 40,
                 quantScale: Double = 1e6): DataFrame = {
    val cents = corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("emb_cent"),
        sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_cent"))
    val withNorm = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
    val assigned = argmaxAssign(withNorm, cents)
    assigned.select(col("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(floor(col("col").cast("double") * quantScale + 0.5)).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        detRound(col("s") / quantScale / col("n"), 6).as("value"),
        col("n").as("n_vectors"))
  }

  /** Nearest-centroid assignment as a map-side-combinable ARGMAX instead of
    * a `row_number` window (r8): the vec × centroid product exists only
    * inside each map task — `max_by` partial-aggregates it down to one row
    * per vector per partition before any exchange, where the window form
    * shuffled and sorted the whole product by `vec_id` (k× the data at k
    * centroids — the difference between "fine at sf0.1" and "fine at
    * 100 TB"). Deterministic despite max_by's tie caveat: the ordering key
    * `(cent_cos, -cell)` is unique per vector because `cell` is, so the
    * winner is exactly the window's (cos DESC, cell ASC) first row — the
    * DuckDB oracle keeps its row_number() mirror unchanged.
    *
    * `vecs` must carry (vec_id, embedding, nrm); `cents` (cell, emb_cent,
    * norm_cent), broadcast-small by construction. Emits (vec_id, embedding,
    * nrm, cell).
    */
  private def argmaxAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // The vec × centroid product carries ONLY (vec_id, cell, cent_cos):
    // the r9 sf1 scale probe measured the previous form — embedding inside
    // the max_by value struct — at 18× wall for 10× data, because every
    // product row materialized a 64-float array copy into the aggregate
    // input (~5 GB of copies at 20k vecs × 500 centroids). With the arrays
    // pruned from the product, the partial argmax buffer is (cell, cos)
    // and the embeddings come back via one narrow vec_id join afterwards.
    // The (cos DESC, cell ASC) ordering packs into ONE long — max of
    // qcos·2^44 − cell, where qcos is the already-detRound(…,4) cosine on
    // its exact 1e-4 grid — because a STRUCT ordering key forces max_by
    // into SortAggregate (struct buffers aren't hash-aggregable), which
    // SORTED the whole product; with two atomic longs the argmax is a
    // HashAggregate (r9 scale probe: the sort was the IVF family's
    // super-linear term). |qcos| ≤ 10^4 by construction; an UNDEFINED
    // cosine — zero-norm vector or centroid, where `try_divide` yields
    // NULL under any ANSI setting (and a defensive NaN is possible from
    // degenerate inputs) — maps to the −10001 sentinel so it sorts LAST:
    // that is DuckDB's NULLS LAST under the oracle mirrors' ORDER BY cos
    // DESC, and it means a zero-norm vector still gets a DETERMINISTIC
    // cell (the lowest centroid id) instead of a null one. The cell <
    // 2^44 bound is enforced loudly on the (small) centroid side: ids
    // beyond it would silently cross quantization levels.
    val guardedCents = cents.withColumn("cell",
      when(col("cell") >= lit(1L << 44) || col("cell") < 0,
        raise_error(concat(lit("argmaxAssign: centroid id out of [0, 2^44): "),
          col("cell").cast("string"))))
        .otherwise(col("cell")))
    val best = vecs.join(broadcast(guardedCents))
      .withColumn("cent_cos",
        detRound(try_divide(dotFP(col("embedding"), col("emb_cent")), col("nrm") * col("norm_cent")), 4))
      .withColumn("__ord",
        coalesce(
          when(!isnan(col("cent_cos")), floor(col("cent_cos") * 1e4 + 0.5).cast("long")),
          lit(-10001L)) * lit(1L << 44) - col("cell"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), col("__ord")).as("cell"))
    // Embeddings come back via one narrow vec_id join. This re-evaluates
    // the vecs lineage a second time when the caller didn't cache it —
    // deliberately: the re-pass is a column-pruned scan plus N norm dots,
    // while caching a corpus-sized input is exactly what a 100 TB run
    // cannot do. Callers that iterate (kmeans) cache vecs themselves.
    vecs.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
  }

  /** Lloyd's k-means iterated to a fixpoint — [[kmeansStep]]'s arithmetic in
    * [[Graph.pagerank]]'s execution contract: O(rounds) Spark jobs (one
    * broadcast assignment join + one map-side-combinable quantized mean per
    * round), never a driver loop over vectors. This turns the IVF family's
    * deterministic seed sample into a TRAINED centroid artifact.
    *
    * Returns (cell, emb_cent, n_vectors) — one row per surviving centroid;
    * a cell that loses every member drops out (standard Lloyd's). `tol > 0`
    * adds a per-round max element-wise centroid-movement probe (a k-row
    * scalar — centroids are broadcast-small by construction) and stops at
    * the fixpoint; `tol = 0` runs exactly `maxIter` rounds, the
    * deterministic mode the DuckDB oracle unrolls. Per-round state is
    * checkpointed ([[IterState]] — reliable when `checkpointDir` is set),
    * same O(1)-lineage rationale as [[Graph.pagerank]].
    * Cross-engine determinism: round ≥ 2 centroids are detRound(1e-6)
    * double arrays rebuilt from quantized integer sums, so assignment
    * cosines are bit-identical on any engine or partitioning.
    */
  def kmeans(corpus: DataFrame, centroidEvery: Int = 40, maxIter: Int = 5,
             tol: Double = 0.0, quantScale: Double = 1e6,
             checkpointDir: Option[String] = None): DataFrame =
    kmeansRun(corpus, centroidEvery, maxIter, tol, quantScale, checkpointDir)._1

  /** [[kmeans]] with a FIXED-size seed — the first `k` vectors instead of
    * the corpus-growing `vec_id % centroidEvery` sample. This is the
    * production codebook parameterization (K does not scale with N, so
    * the N × K assignment per Lloyd round stays LINEAR in the corpus);
    * the `centroidEvery` form exists for oracle-enumerable cell sets. */
  def kmeansFixedK(corpus: DataFrame, k: Int, maxIter: Int = 2,
                   tol: Double = 0.0, quantScale: Double = 1e6,
                   checkpointDir: Option[String] = None): DataFrame =
    kmeansRunSeeded(corpus, col("vec_id") < k, maxIter, tol, quantScale,
      checkpointDir)._1

  /** [[kmeans]] plus the number of rounds actually executed — the
    * observable the early-exit spec pins. */
  def kmeansRun(corpus: DataFrame, centroidEvery: Int = 40, maxIter: Int = 5,
                tol: Double = 0.0, quantScale: Double = 1e6,
                checkpointDir: Option[String] = None): (DataFrame, Int) =
    kmeansRunSeeded(corpus, col("vec_id") % centroidEvery === 0, maxIter,
      tol, quantScale, checkpointDir)

  private def kmeansRunSeeded(corpus: DataFrame, seedPred: Column,
                              maxIter: Int, tol: Double, quantScale: Double,
                              checkpointDir: Option[String]): (DataFrame, Int) = {
    val ckRoot = IterState.root(checkpointDir)
    val vecs = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm")).cache()
    // seed = the deterministic sample, cast to array<double> so the centroid
    // schema is identical in every round (round ≥ 2 emits double arrays)
    var cents = IterState(
      vecs.filter(seedPred)
        .select(col("vec_id").as("cell"),
          transform(col("embedding"), x => x.cast("double")).as("emb_cent"),
          lit(0L).as("n_vectors")),
      ckRoot, 0)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val withNorm = cents.select(col("cell"), col("emb_cent"),
        sqrt(dotFP(col("emb_cent"), col("emb_cent"))).as("norm_cent"))
      val assigned = argmaxAssign(vecs, withNorm)
      val next = assigned.select(col("cell"), posexplode(col("embedding")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * quantScale + 0.5)).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => detRound(x.getField("s") / quantScale / x.getField("n"), 6)).as("emb_cent"),
          max(col("n")).as("n_vectors"))
      // applyQuantized negative result (VERDICT r11 #5): the round state is
      // k centroid rows (corpus/centroidEvery — vocabulary-not-corpus
      // sized), so reliable-checkpoint IO is noise regardless of payload
      // encoding; an array-quantized variant would buy nothing measurable.
      val nextCk = IterState(next, ckRoot, iter + 1)
      if (tol > 0) {
        // max element-wise movement across surviving cells (both sides are
        // checkpoint leaves, so this inner join is k-row scalar work)
        val delta = nextCk.as("n").join(cents.as("o"), Seq("cell"))
          .select(aggregate(zip_with(col("n.emb_cent"), col("o.emb_cent"),
            (x, y) => abs(x - y)), lit(0.0), (acc, x) => greatest(acc, x)).as("d"))
          .agg(max(col("d")).as("m"))
          .collect()(0).getDouble(0)
        converged = delta <= tol
      }
      IterState.drop(cents, ckRoot, iter)
      cents = nextCk
      iter += 1
    }
    vecs.unpersist()
    (cents, iter)
  }

  /** Deterministic IVF (inverted-file) ANN — the production scale path when
    * buckets must be balanced: a fixed centroid sample partitions the corpus
    * into cells (the "index build"); a query scans only its `nprobe` nearest
    * cells. Centroids here are the deterministic `vec_id % centroidEvery = 0`
    * sample — a stand-in for k-means that keeps the whole pipeline
    * reproducible and oracle-expressible.
    *
    * At 100 TB: the cell id becomes the physical partition key of the stored
    * corpus; assignment is one broadcast join (centroids are tiny); a query
    * reads nprobe/|cells| of the data.
    */
  /** Product-quantization (PQ) coding (Jégou et al., TPAMI 2011): split each
    * vector into `m` subvectors and code each by its nearest codebook entry
    * under squared L2 — the index-build step that compresses a 100 TB
    * embedding corpus to m bytes/vector for in-memory ANN. Codebooks here
    * are the deterministic `vec_id % centroidEvery` sample's subvectors
    * (reproducible stand-in for per-subspace k-means, same convention as
    * [[ivfTopK]]).
    *
    * ‖x−c‖² is computed as x·x + c·c − 2·x·c — three sequential-fold dots
    * (the native [[dotFP]]), so the arithmetic is order-fixed and
    * oracle-mirrorable. One broadcast join (codebooks are tiny by
    * construction), per-(vector, subspace) argmin window bounded by
    * codebook size.
    */
  /** (sub, subvector) struct columns splitting `embedding` into m blocks —
    * the ONE sub-vector slicing definition shared by [[pqCode]] and
    * [[ivfPqTopK]] (codes and ADC tables must come from the same codebook
    * geometry — review r5). */
  private def subStructs(m: Int, dim: Int): Seq[Column] = {
    val subDim = dim / m
    (0 until m).map(s =>
      struct(lit(s).cast("long").as("sub"),
        slice(col("embedding"), s * subDim + 1, subDim).as("sv")))
  }

  /** The PQ codebook (cent_id, sub, cs): deterministic-sample vectors split
    * into sub-vectors — shared by [[pqCode]] (code assignment) and
    * [[ivfPqTopK]] (ADC tables). */
  private def pqCodebook(corpus: DataFrame, m: Int, dim: Int,
                         centroidEvery: Int): DataFrame =
    corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cent_id"), explode(array(subStructs(m, dim): _*)).as("c"))
      .select(col("cent_id"), col("c.sub").as("sub"), col("c.sv").as("cs"))

  /** Coarse-quantizer centroid table (cent_id, emb_cent, norm_cent) —
    * shared by [[ivfTopK]] and [[ivfPqTopK]]. */
  private def centroidTable(corpus: DataFrame, centroidEvery: Int): DataFrame =
    corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("emb_cent"),
        sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_cent"))

  def pqCode(corpus: DataFrame, m: Int = 4, dim: Int = 64,
             centroidEvery: Int = 40): DataFrame = {
    val xs = corpus.select(col("vec_id"), explode(array(subStructs(m, dim): _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("xs"),
        dotFP(col("x.sv"), col("x.sv")).as("xs_n"))
    val cs = pqCodebook(corpus, m, dim, centroidEvery)
      .withColumn("cs_n", dotFP(col("cs"), col("cs")))
    // nearest codebook entry as a map-side-combinable ARGMIN (same rewrite
    // as argmaxAssign): unique ordering key (dist, cent_id) keeps the
    // window's (dist ASC, cent_id ASC) winner; the sub-vector × codebook
    // product dies inside the map task instead of being exchanged.
    // Self-norms are computed ONCE per side before the product (r9 scale
    // probe: evaluating all three dots per pair tripled the join loop's
    // flops); xs_n + cs_n − 2·dot keeps the exact same IEEE op order, so
    // distances are bit-identical to the inline form.
    // (dist ASC, cent_id ASC) packed into one non-negative long — min of
    // qdist·2^42 + cent_id — for the same HashAggregate-vs-SortAggregate
    // reason as [[argmaxAssign]]; a single min() then decodes BOTH the
    // winning code and its distance exactly (dist is on its own 1e-4 grid
    // and cent_id < 2^42, guarded below). An undefined distance (NULL
    // from a malformed sub-vector, or a defensive NaN) maps to the 2^20
    // sentinel so it sorts GREATEST and loses the argmin — DuckDB's
    // NULLS LAST under the mirror's ORDER BY dist ASC; a real quantized
    // dist at or beyond the sentinel (sub-distance ≥ ~105, i.e.
    // non-unit-scale embeddings) raises instead of silently wrapping —
    // scale such vectors before PQ.
    xs.join(broadcast(cs.withColumn("cent_id",
        when(col("cent_id") >= lit(1L << 42) || col("cent_id") < 0,
          raise_error(concat(lit("pqCode: codebook id out of [0, 2^42): "),
            col("cent_id").cast("string"))))
          .otherwise(col("cent_id")))), Seq("sub"))
      .withColumn("dist", detRound(
        col("xs_n") + col("cs_n") - lit(2.0) * dotFP(col("xs"), col("cs")), 4))
      .withColumn("__q",
        coalesce(
          when(!isnan(col("dist")), floor(col("dist") * 1e4 + 0.5).cast("long")),
          lit(1L << 20)))
      .withColumn("__ord",
        when(col("__q") > lit(1L << 20) || col("__q") < 0,
          raise_error(concat(lit("pqCode: quantized distance out of [0, 2^20]: "),
            col("__q").cast("string"))))
          .otherwise(col("__q")) * lit(1L << 42) + col("cent_id"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("__ord")).as("__ord"))
      .select(col("vec_id"), col("sub"),
        (col("__ord") % lit(1L << 42)).as("code"),
        // ord ≥ 0, so shiftright is the exact integer quotient (a plain
        // `/` would be double division and lose bits at 2^60 magnitudes).
        // When the sentinel won — EVERY distance in the (vec_id, sub)
        // group undefined — the decoded 104.8576 would be a FABRICATED
        // number (ADVICE r9): surface NULL instead, exactly what the
        // DuckDB mirror's ORDER BY dist (all-NULL group) emits. The code
        // stays: both engines deterministically pick the lowest cent_id.
        when(shiftright(col("__ord"), 42) === lit(1L << 20),
          lit(null).cast("double"))
          .otherwise(shiftright(col("__ord"), 42).cast("double") / 1e4).as("dist"))
  }

  /** One distributed power-iteration step toward the corpus' top principal
    * component: v' = Σᵢ (xᵢ·v)·xᵢ (the Gram-matrix product AᵀAv computed
    * without materializing AᵀA), starting from the deterministic md5-derived
    * direction [[planeCoeff]](0, ·). Iterate by feeding the (rescaled)
    * output back in; the scale factor is free to choose because it doesn't
    * change the direction, so no cross-engine sqrt/normalization is needed
    * in the compared output.
    *
    * Per-element products are quantized to 1e-6 integers BEFORE the sum
    * ([[labelCentroids]]' recipe) so 1000 partial aggregates merge
    * bit-identically. One scan + one map-side-combinable shuffle per step.
    */
  def powerIterationStep(corpus: DataFrame, dim: Int = 64,
                         quantScale: Double = 1e6): DataFrame = {
    val s = corpus.select(col("vec_id"), col("embedding"),
      dotFP(col("embedding"), planeVector(0, dim)).as("s"))
    s.select(col("s"), posexplode(col("embedding")))
      .groupBy(col("pos"))
      .agg(sum(floor(col("s") * col("col").cast("double") * quantScale + 0.5)).as("acc"),
        count(lit(1)).as("n_vectors"))
      .select(col("pos").cast("long").as("pos"),
        detRound(col("acc") / quantScale, 6).as("value"), col("n_vectors"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the corpus (here the deterministic IVF/k-means
    * cell assignment, same as [[kmeansStep]]), then mark as duplicates the
    * vectors that sit within `threshold` cosine of a LOWER-id vector in the
    * SAME cell. The pairwise step is quadratic only within a cell — the
    * whole reason to cluster first — so 100 TB costs Σ|cell|² ≪ n², and
    * cells are independent tasks. Keeper rule (lowest id survives) is the
    * same deterministic convention as the exact/minhash dedups.
    *
    * Output: every vector with its cell and a keep flag.
    */
  /** Shared IVF-style cell assignment (the "index build" of [[ivfTopK]] /
    * [[semanticDedup]] / [[knnGraph]]): nearest deterministic-sample
    * centroid by rounded cosine, ties to the smaller centroid id — the
    * map-side-combinable [[argmaxAssign]], so the vec × centroid product
    * never reaches an exchange. Returns (vec_id, embedding, nrm, cell).
    */
  private[operators] def assignCells(corpus: DataFrame, centroidEvery: Int): DataFrame = {
    val cents = corpus.filter(col("vec_id") % centroidEvery === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("emb_cent"),
        sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_cent"))
    val withNorm = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
    argmaxAssign(withNorm, cents)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      // deliberate materialization: every caller self-joins the assignment
      // (pair formation reads it 2-3 times); reassigning means re-scoring
      // the corpus against every centroid per read
      .cache()
  }

  /** IVF-pruned k-nearest-neighbor GRAPH: every vector's top-k neighbors by
    * rounded cosine among the vectors sharing its cell — the candidate-graph
    * build behind graph-based ANN indexes and SemDeDup-style clustering.
    * The quadratic step is per-cell (n²/|cells| pairs, the
    * [[semanticDedup]] bound); ranking is a per-vector window whose
    * partition is one vector's in-cell candidate list, never corpus-sized.
    * Ties break to the smaller neighbor id; singleton cells emit nothing.
    */
  def knnGraph(corpus: DataFrame, k: Int = 3, centroidEvery: Int = 40): DataFrame = {
    val assigned = assignCells(corpus, centroidEvery)
    val a = assigned.select(col("cell"), col("vec_id").as("vid_a"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vid_b"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"))
    val w = Window.partitionBy(col("vid_a"))
      .orderBy(col("cos").desc, col("vid_b"))
    a.join(b, Seq("cell"))
      .filter(col("vid_a") =!= col("vid_b"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_a"), col("emb_b")), col("norm_a") * col("norm_b")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("vid_a").as("vec_id"), col("rank"),
        col("vid_b").as("neighbor_id"), col("cos"))
  }

  /** Late-interaction MaxSim scoring (the ColBERT retrieval shape): treat
    * each embedding as m sub-vectors ("token" representations), score a
    * (query, doc) pair as Σ over query sub-vectors of the MAX dot against
    * any doc sub-vector — finer-grained than single-vector cosine (a doc
    * matching every aspect of the query beats one matching one aspect
    * strongly). Two grouped aggregates after the scan: max per (query,
    * doc, query-sub) then a quantize-before-sum over the m maxes, so the
    * score is partition-order-proof. The query side broadcasts like
    * [[bruteForceTopK]] — this is the exact-scoring anchor; at scale the
    * candidate set comes from an ANN prefilter ([[ivfTopK]]) first.
    */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 m: Int = 4, dim: Int = 64): DataFrame = {
    val dsub = corpus.select(col("vec_id"), explode(array(subStructs(m, dim): _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub_d"), col("x.sv").as("ds"))
    val qsub = queries
      .select(col("vec_id").as("query_id"), explode(array(subStructs(m, dim): _*)).as("x"))
      .select(col("query_id"), col("x.sub").as("sub_q"), col("x.sv").as("qs"))
    val dots = dsub.join(broadcast(qsub), col("query_id") =!= col("vec_id"))
      .withColumn("dot", detRound(dotFP(col("qs"), col("ds")), 4))
    val maxes = dots.groupBy(col("query_id"), col("vec_id"), col("sub_q"))
      .agg(max(col("dot")).as("mx"))
    val scores = maxes.groupBy(col("query_id"), col("vec_id"))
      .agg(sum(floor(col("mx") * 1e4 + 0.5).cast("long")).as("qsum"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qsum").desc, col("vec_id"))
    scores.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (col("qsum").cast("double") / 1e4).as("maxsim"))
  }

  /** 1/log2(i+1) DCG discounts for ranks 1..k, quantized to 1e-9 integers —
    * computed ONCE here and embedded as the same literals in the DuckDB
    * oracle (the [[graft.operators.Sampling.PoissonCuts]] trick), so no
    * cross-engine log is ever evaluated. */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1e9 / (math.log(i + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** nDCG@k of the IVF index against the exact ranking — the
    * order-sensitive sibling of [[annRecall]] (recall says WHETHER the true
    * neighbors were found; nDCG says whether they arrived in the right
    * ORDER, which is what a downstream re-ranker actually consumes).
    * Graded relevance = k+1 − exact_rank (0 outside the exact top-k); DCG
    * sums integer rel·discount products, and the ideal DCG is the
    * query-independent constant Σ (k+1−i)·disc(i), so the final nDCG is
    * ONE division. Same id-only join shape as annRecall.
    */
  def annNdcg(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidEvery: Int = 40, nprobe: Int = 2): DataFrame = {
    val disc = ndcgDiscounts(k)
    val idcg = (1 to k).map(i => (k + 1 - i).toLong * disc(i - 1)).sum
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("vec_id"), (lit((k + 1).toLong) - col("rank")).as("rel"))
    val approx = ivfTopK(corpus, queries, k, centroidEvery, nprobe)
      .select(col("query_id"), col("vec_id"), col("rank"))
    val perQuery = approx
      .join(exact, Seq("query_id", "vec_id"), "left")
      .withColumn("contrib",
        coalesce(col("rel"), lit(0L))
          * element_at(array(disc.map(lit): _*), col("rank").cast("int")))
      .groupBy(col("query_id")).agg(sum(col("contrib")).as("qdcg"))
    queries.select(col("vec_id").as("query_id"))
      .join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"),
        detRound(coalesce(col("qdcg"), lit(0L)).cast("double") / 1e9, 6).as("dcg"),
        detRound(coalesce(col("qdcg"), lit(0L)).cast("double") / idcg, 6).as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009 — the hybrid-search
    * standard): fuse any two per-query rankings by
    * RRF(d) = Σ_lists 1/(c + rank_list(d)) — rank-based, so scores on
    * incomparable scales (cosine vs MaxSim vs BM25) combine without
    * calibration. Inputs are (query_id, rank, vec_id) frames (any of the
    * top-k operators here); each contribution quantizes to a 1e-9 integer
    * before the sum. One union + one map-side-combinable aggregate + a
    * per-query window bounded by the lists' combined k.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    def contrib(df: DataFrame) = df.select(col("query_id"), col("vec_id"),
      floor(lit(1.0) / (lit(c) + col("rank")) * 1e9 + 0.5).cast("long").as("q"))
    val fused = contrib(a).unionAll(contrib(b))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("q")).as("qsum"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qsum").desc, col("vec_id"))
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("fused_rank"), col("vec_id"), col("n_lists"),
        detRound(col("qsum").cast("double") / 1e9, 6).as("rrf"))
  }

  /** Hard-negative mining for contrastive/embedding training: per vector,
    * the CLOSEST neighbors that are NOT near-duplicates — similar enough
    * to be informative negatives, distinct enough not to be false ones
    * (mislabeled positives are the classic hard-negative failure mode).
    * Candidates come from the IVF-pruned [[knnGraph]] with a wider k, the
    * duplicate band (cos ≥ `dupThreshold`) is cut, and the survivors
    * re-rank per vector. Same scale bound as the kNN graph: quadratic only
    * within a cell, rank windows per vector.
    */
  def hardNegatives(corpus: DataFrame, k: Int = 3, candidateK: Int = 10,
                    dupThreshold: Double = 0.9, centroidEvery: Int = 40): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    knnGraph(corpus, candidateK, centroidEvery)
      .filter(col("cos") < dupThreshold)
      .withColumn("hard_rank", row_number().over(w).cast("long"))
      .filter(col("hard_rank") <= k)
      .select(col("vec_id"), col("hard_rank"), col("neighbor_id"), col("cos"))
  }

  /** Nearest-label-centroid classification audit — the confusion matrix of
    * "would a centroid classifier recover the labels?", the standard cheap
    * embedding-quality probe. Fully relational dot products: embeddings
    * explode to (vec, pos, x), join the label-centroid table on pos, and
    * each x·c product is quantized to 1e-9 integers BEFORE the (vec, label)
    * sum, so accumulation order can't perturb the argmax (labelCentroids'
    * recipe one level deeper). Argmax is a per-vector window bounded by
    * |labels|; output is the |labels|² confusion-count table.
    */
  def centroidConfusion(emb: DataFrame, quantScale: Double = 1e9): DataFrame = {
    val cents = labelCentroids(emb)
      .select(col("label").as("cand"), posexplode(col("centroid")))
      .select(col("cand"), col("pos"), col("col").as("c"))
    val x = emb.select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"), col("col").cast("double").as("x"))
    val scores = x.join(broadcast(cents), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("cand"))
      .agg(sum(floor(col("x") * col("c") * quantScale + 0.5)).as("q"))
    // argmax over candidates as min_by over (-q, cand) — the old window's
    // (q DESC, cand ASC) winner, valid for candidate labels of ANY
    // orderable type (the score q is always numeric): pre-combines per
    // partition instead of re-shuffling + sorting the score table
    scores.groupBy(col("vec_id"), col("label"))
      .agg(min_by(col("cand"), struct(-col("q"), col("cand"))).as("predicted"))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  def semanticDedup(corpus: DataFrame, centroidEvery: Int = 40,
                    threshold: Double = 0.3): DataFrame = {
    val assigned = assignCells(corpus, centroidEvery)
    val a = assigned.select(col("cell"), col("vec_id").as("vid_a"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("vid_b"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("vid_a") < col("vid_b"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_a"), col("emb_b")), col("norm_a") * col("norm_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vid_b").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .withColumn("keep", col("__dup").isNull)
      .select(col("vec_id"), col("cell"), col("keep"))
  }

  /** IVF top-k against the deterministic seed-sample centroid table.
    *
    * Parameterization at scale (r9 measured probe): the index build costs
    * O(N·K) with K = N/centroidEvery, so a FIXED centroidEvery makes the
    * build quadratic in corpus size — at 10× data the assignment does
    * 100× the flops (measured sub-linear in wall only because the narrow
    * product parallelizes). Production IVF holds K ≈ √N or fixed (e.g.
    * 2^16): GROW centroidEvery with the corpus, or train a fixed-k
    * codebook with [[kmeans]] and search via [[ivfTopKTrained]]. The gated
    * queries pin centroidEvery=40 only so the DuckDB oracle enumerates the
    * same cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidEvery: Int = 40, nprobe: Int = 2): DataFrame =
    ivfSearch(corpus, queries, k, centroidTable(corpus, centroidEvery), nprobe)

  /** [[ivfTopK]] against an ARBITRARY centroid table `(cell, emb_cent)` —
    * in particular [[kmeans]] output, which turns the IVF index build into
    * a TRAINED artifact instead of the deterministic seed sample (the
    * production shape: train once, persist the codebook, assign + search
    * against the broadcast-small trained centroids).
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                     centroids: DataFrame, nprobe: Int = 2): DataFrame =
    ivfSearch(corpus, queries, k,
      centroids.select(col("cell").as("cent_id"), col("emb_cent"),
        sqrt(dotFP(col("emb_cent"), col("emb_cent"))).as("norm_cent")),
      nprobe)

  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                        cents: DataFrame, nprobe: Int): DataFrame = {
    val withNorm = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
    // index build: nearest centroid by cosine (deterministic tiebreak on
    // centroid id) via the map-side-combinable argmax
    val cells = argmaxAssign(withNorm,
        cents.withColumnRenamed("cent_id", "cell"))
      .select(col("vec_id"), col("embedding").as("emb_c"), col("nrm").as("norm_c"),
        col("cell"))
    // query probe: nprobe nearest centroids per query
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
        sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_q"))
      .join(broadcast(cents))
      .withColumn("cent_cos",
        detRound(try_divide(dotFP(col("emb_q"), col("emb_cent")), col("norm_q") * col("norm_cent")), 4))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("emb_q"), col("norm_q"), col("cent_id").as("cell"))
    // search: score only vectors in the probed cells
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos",
        detRound(try_divide(dotFP(col("emb_q"), col("emb_c")), col("norm_q") * col("norm_c")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Embedding covariance matrix (upper triangle) — the one-pass second
    * moment that feeds whitening / full PCA (the power-iteration step's
    * batch sibling): cov(i,j) = E[xᵢxⱼ] − μᵢμⱼ with every accumulation
    * quantized to integers BEFORE summing (the [[labelCentroids]] recipe),
    * so 1000 executors' partials merge bit-identically. The pair explode
    * is d² per vector — fine at d=64 (2,080 upper-triangle cells); at
    * d≥1024 block the dimensions and run this per block pair. One scan,
    * one map-side-combinable shuffle into d² cells.
    */
  def covarianceMatrix(emb: DataFrame, quantScale: Double = 1e6): DataFrame = {
    val x = emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("i"),
        col("col").cast("double").as("xi"))
    val pairs = x
      .join(x.select(col("vec_id"), col("i").as("j"), col("xi").as("xj")), Seq("vec_id"))
      .filter(col("i") <= col("j"))
    val moments = pairs.groupBy(col("i"), col("j"))
      .agg(sum(floor(col("xi") * col("xj") * quantScale + 0.5)).as("sq"))
    val means = x.groupBy(col("i"))
      .agg(sum(floor(col("xi") * quantScale + 0.5)).as("sm"))
    val n = emb.agg(count(lit(1)).as("n_vectors"))
    moments
      .join(broadcast(means.select(col("i"), col("sm").as("sm_i"))), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("sm").as("sm_j"))), Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        detRound(
          col("sq").cast("double") / quantScale / col("n_vectors")
            - (col("sm_i").cast("double") / quantScale / col("n_vectors"))
            * (col("sm_j").cast("double") / quantScale / col("n_vectors")), 6)
          .as("cov"))
  }

  /** IVF-PQ ANN search (Jégou et al., TPAMI 2011 — the production ANN
    * memory/compute shape): the coarse IVF quantizer prunes the corpus to
    * the probed cells, and within them candidates are scored by ASYMMETRIC
    * DISTANCE (ADC) — the query meets only each vector's m-byte PQ code,
    * never the full vector. Per query the ADC table (m × |codebook| exact
    * sub-distances) is a tiny broadcast artifact; the candidate score is
    * then ONE equi join on (query, sub, code) + a sum — at 100 TB the full
    * vectors stay in cold storage and the scan reads codes only,
    * nprobe/|cells| of them.
    *
    * Determinism: sub-distances are detRound-quantized, summed as 1e-4
    * integers (m values per candidate — quantize-before-sum, so partition
    * order can't move a rank), ranks tie-break on vec_id. Returns
    * (query_id, rank, vec_id, approx_l2) ranked by ascending approximate
    * L2² — compare against [[bruteForceTopK]]/[[annRecall]] to read the
    * compression-recall trade.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                m: Int = 4, dim: Int = 64, centroidEvery: Int = 40,
                nprobe: Int = 2): DataFrame = {
    val cells = assignCells(corpus, centroidEvery).select(col("vec_id"), col("cell"))
    val codes = pqCode(corpus, m, dim, centroidEvery)
      .select(col("vec_id"), col("sub"), col("code"))
    val cents = centroidTable(corpus, centroidEvery)
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
        sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_q"))
      .join(broadcast(cents))
      .withColumn("cent_cos",
        detRound(try_divide(dotFP(col("emb_q"), col("emb_cent")), col("norm_q") * col("norm_cent")), 4))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    // ADC table: exact sub-distance from each query subvector to each
    // codebook entry — m × |codebook| rows per query, broadcastable
    val qsub = queries
      .select(col("vec_id").as("query_id"), explode(array(subStructs(m, dim): _*)).as("x"))
      .select(col("query_id"), col("x.sub").as("sub"), col("x.sv").as("qs"),
        dotFP(col("x.sv"), col("x.sv")).as("qs_n"))
    val cb = pqCodebook(corpus, m, dim, centroidEvery)
      .withColumn("cs_n", dotFP(col("cs"), col("cs")))
    // same one-dot-per-pair shape as pqCode — identical IEEE op order
    val adc = qsub.join(broadcast(cb), Seq("sub"))
      .withColumn("d", detRound(
        col("qs_n") + col("cs_n") - lit(2.0) * dotFP(col("qs"), col("cs")), 4))
      .select(col("query_id"), col("sub"), col("cent_id").as("code"), col("d"))
    val cand = cells.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val scored = cand.join(codes, Seq("vec_id"))
      .join(adc, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(floor(col("d") * 1e4 + 0.5).cast("long")).as("ds"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ds"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (col("ds").cast("double") / 1e4).as("approx_l2"))
  }

  /** Sub-vector slices of `df` as DOUBLE arrays with precomputed self-dot:
    * (vec_id, sub, xs, xs_n). Double upfront (float widening is exact) so
    * every Lloyd round and the final code assignment see one schema. */
  private def subVectors(df: DataFrame, m: Int, dim: Int): DataFrame =
    df.select(col("vec_id"), explode(array(subStructs(m, dim): _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"),
        transform(col("x.sv"), v => v.cast("double")).as("xs"))
      .withColumn("xs_n", dotFP(col("xs"), col("xs")))

  /** Nearest-codebook-entry assignment per (vec_id, sub) under squared L2 —
    * [[pqCode]]'s packed-ordering argmin (HashAggregate, map-side
    * combinable; see the codegen notes there) against an ARBITRARY codebook
    * `(cent_id, sub, cs)`. Returns (vec_id, sub, code). */
  private def argminSubAssign(xs: DataFrame, cb: DataFrame): DataFrame = {
    val cbN = cb
      .withColumn("cent_id",
        when(col("cent_id") >= lit(1L << 42) || col("cent_id") < 0,
          raise_error(concat(lit("argminSubAssign: codebook id out of [0, 2^42): "),
            col("cent_id").cast("string"))))
          .otherwise(col("cent_id")))
      .withColumn("cs_n", dotFP(col("cs"), col("cs")))
    xs.join(broadcast(cbN), Seq("sub"))
      .withColumn("dist", detRound(
        col("xs_n") + col("cs_n") - lit(2.0) * dotFP(col("xs"), col("cs")), 4))
      .withColumn("__q",
        coalesce(
          when(!isnan(col("dist")), floor(col("dist") * 1e4 + 0.5).cast("long")),
          lit(1L << 20)))
      .withColumn("__ord",
        when(col("__q") > lit(1L << 20) || col("__q") < 0,
          raise_error(concat(lit("argminSubAssign: quantized distance out of [0, 2^20]: "),
            col("__q").cast("string"))))
          .otherwise(col("__q")) * lit(1L << 42) + col("cent_id"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("__ord")).as("__ord"))
      .select(col("vec_id"), col("sub"),
        (col("__ord") % lit(1L << 42)).as("code"))
  }

  /** TRAINED product-quantization codebook: per-subspace Lloyd's k-means
    * with a FIXED-size seed (the first `k` vectors' sub-vectors), `iters`
    * update rounds. This is the production answer to [[pqCode]]'s
    * `centroidEvery` parameterization, whose K = N/centroidEvery makes the
    * code-assignment product QUADRATIC in the corpus (the r9 scale probe's
    * 7.4×-per-10× residual on q_ann_ivfpq): here K is constant, so
    * training and assignment are one broadcast join per round — linear.
    * Same determinism recipe as [[kmeansRun]]: quantize-before-sum means,
    * detRound(1e-6) double centroids, ties to the lower entry id.
    * Returns (cent_id, sub, cs) — cs an array<double> of length dim/m.
    */
  def trainedPqCodebook(corpus: DataFrame, m: Int = 4, dim: Int = 64,
                        k: Int = 32, iters: Int = 1,
                        quantScale: Double = 1e6): DataFrame = {
    val xs = subVectors(corpus, m, dim).cache()
    var cb = subVectors(corpus.filter(col("vec_id") < k), m, dim)
      .select(col("vec_id").as("cent_id"), col("sub"), col("xs").as("cs"))
    var i = 0
    while (i < iters) {
      val assigned = argminSubAssign(xs, cb)
      // sub-vector means come back via one narrow (vec_id, sub) join — the
      // argmin product carried only ids (argmaxAssign's array-pruning rule)
      cb = xs.join(assigned, Seq("vec_id", "sub"))
        .select(col("code").as("cell"), col("sub"), posexplode(col("xs")))
        .groupBy(col("cell"), col("sub"), col("pos"))
        .agg(sum(floor(col("col") * quantScale + 0.5)).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("cell"), col("sub"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => detRound(x.getField("s") / quantScale / x.getField("n"), 6)).as("cs"))
        .select(col("cell").as("cent_id"), col("sub"), col("cs"))
      i += 1
    }
    // k × m rows — broadcast-small; cached because the search consumes it
    // twice (code assignment + per-query ADC tables)
    cb.cache()
  }

  /** IVF-PQ search against TRAINED fixed-K artifacts — the production
    * parameterization of [[ivfPqTopK]] (VERDICT r9 #5): the coarse
    * quantizer is [[kmeansFixedK]] (kCoarse cells, `coarseIters` Lloyd
    * rounds) and the PQ codebook is [[trainedPqCodebook]] (kPq entries per
    * subspace), so EVERY index-build product is N × constant — linear in
    * the corpus where the `centroidEvery` form is quadratic. Search is the
    * same ADC shape: per-query exact sub-distance tables against the tiny
    * codebook, candidates pruned to the nprobe probed cells, one equi join
    * on (query, sub, code) + a quantized sum.
    */
  def ivfPqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                       m: Int = 4, dim: Int = 64,
                       kCoarse: Int = 32, coarseIters: Int = 2,
                       kPq: Int = 32, pqIters: Int = 1,
                       nprobe: Int = 2,
                       coarseCents: Option[DataFrame] = None): DataFrame = {
    // `coarseCents` lets a caller hand in the PERSISTED trained quantizer
    // (the production artifact — train once, every index consumer reuses
    // it); must be kmeansFixedK(corpus, kCoarse, coarseIters) output so
    // the oracle's seed-parameterized Lloyd chain still matches
    val coarse = coarseCents.getOrElse(kmeansFixedK(corpus, kCoarse, coarseIters))
    val cents = coarse.select(col("cell").as("cent_id"), col("emb_cent"),
      sqrt(dotFP(col("emb_cent"), col("emb_cent"))).as("norm_cent"))
    val withNorm = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
    val cells = argmaxAssign(withNorm, cents.withColumnRenamed("cent_id", "cell"))
      .select(col("vec_id"), col("cell"))
    val cb = trainedPqCodebook(corpus, m, dim, kPq, pqIters)
    val codes = argminSubAssign(subVectors(corpus, m, dim), cb)
    adcSearch(coarse, cells, cb, codes, queries, k, m, dim, nprobe)
  }

  /** The ADC search core shared by [[ivfPqTopKTrained]] (in-memory index)
    * and [[ivfPqSearchIndex]] (persisted index): probes, per-query ADC
    * tables, candidate scoring, top-k. ONE implementation, so the
    * index-search path is output-equal to the in-memory path by
    * construction — not by parallel maintenance. */
  private def adcSearch(coarse: DataFrame, cells: DataFrame, cb: DataFrame,
                        codes: DataFrame, queries: DataFrame, k: Int,
                        m: Int, dim: Int, nprobe: Int): DataFrame = {
    val cents = coarse.select(col("cell").as("cent_id"), col("emb_cent"),
      sqrt(dotFP(col("emb_cent"), col("emb_cent"))).as("norm_cent"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("emb_q"),
        sqrt(dotFP(col("embedding"), col("embedding"))).as("norm_q"))
      .join(broadcast(cents))
      .withColumn("cent_cos",
        detRound(try_divide(dotFP(col("emb_q"), col("emb_cent")), col("norm_q") * col("norm_cent")), 4))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    val qsub = subVectors(queries, m, dim)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("xs").as("qs"), col("xs_n").as("qs_n"))
    val cbN = cb.withColumn("cs_n", dotFP(col("cs"), col("cs")))
    // same one-dot-per-pair shape as pqCode — identical IEEE op order
    val adc = qsub.join(broadcast(cbN), Seq("sub"))
      .withColumn("d", detRound(
        col("qs_n") + col("cs_n") - lit(2.0) * dotFP(col("qs"), col("cs")), 4))
      .select(col("query_id"), col("sub"), col("cent_id").as("code"), col("d"))
    val cand = cells.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val scored = cand.join(codes, Seq("vec_id"))
      .join(adc, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(floor(col("d") * 1e4 + 0.5).cast("long")).as("ds"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ds"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (col("ds").cast("double") / 1e4).as("approx_l2"))
  }

  /** PERSISTED IVF-PQ index — the FAISS-style build/search split
    * ([[ivfPqTopKTrained]]'s `coarseCents` hook, completed): train and
    * assign ONCE, then every query batch searches the artifact without
    * touching a corpus vector. Four tables under `dir`:
    *   - `cents.parquet`    (kCoarse rows): the trained coarse quantizer,
    *   - `codebook.parquet` (kPq × m rows): the trained PQ codebook,
    *   - `cells.parquet`    (N rows, 2 narrow cols): vector → coarse cell,
    *   - `codes.parquet`    (N × m rows of small ints): the PQ compression —
    *     the search-time footprint of a 64-float vector is m codes.
    * Assignments are computed from the READ-BACK trained tables, so the
    * artifact is self-consistent even if the in-memory training frames
    * were nondeterministically re-evaluated after the write. */
  /** `coarse`: an ALREADY-TRAINED coarse quantizer to persist instead of
    * retraining — the caller guarantees it IS
    * `kmeansFixedK(corpus, kCoarse, coarseIters)` of this exact corpus
    * (kmeansFixedK is deterministic — quantized integer sums + detRound —
    * so reuse is bit-identical to retraining). The bench/verify composition
    * passes its memoized fixedk-centroids artifact here (r18: the index
    * build re-ran the identical 2-round Lloyd train the suite had ALREADY
    * built and timed as artifact:fixedk_centroids — train once, persist
    * twice). The streaming refresh gate trains on a different base corpus
    * and passes None. */
  def writeIvfPqIndex(corpus: DataFrame, dir: String, m: Int = 4,
                      dim: Int = 64, kCoarse: Int = 32, coarseIters: Int = 2,
                      kPq: Int = 32, pqIters: Int = 1,
                      coarse: Option[DataFrame] = None): Unit = {
    val spark = corpus.sparkSession
    // The build is TWO independent chains over the same corpus — coarse
    // quantizer → cell assignment, PQ codebook → code assignment — whose
    // four tables land in distinct files. Each chain is internally serial
    // (train, then assign by the trained table), but nothing couples the
    // chains, and each is a sparse sequence of small jobs separated by
    // driver-side planning — so run them concurrently (guide §2.6; the
    // r18 profile read artifact:ivfpq_index at 5.2 s wall over 6.5 s of
    // summed task time at 32 cores: driver-gap-bound, not compute-bound).
    // Outputs are byte-identical: same plans, same writes, just submitted
    // from two threads.
    Parallelism.inParallel(spark)(
      () => {
        coarse.getOrElse(kmeansFixedK(corpus, kCoarse, coarseIters))
          .write.mode("overwrite").parquet(s"$dir/cents.parquet")
        val storedCoarse = spark.read.parquet(s"$dir/cents.parquet")
        val cents = storedCoarse.select(col("cell"), col("emb_cent"),
          sqrt(dotFP(col("emb_cent"), col("emb_cent"))).as("norm_cent"))
        val withNorm = corpus.select(col("vec_id"), col("embedding"),
          sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
        argmaxAssign(withNorm, cents)
          .select(col("vec_id"), col("cell"))
          .write.mode("overwrite").parquet(s"$dir/cells.parquet")
      },
      () => {
        val cbT = trainedPqCodebook(corpus, m, dim, kPq, pqIters)
        cbT.write.mode("overwrite").parquet(s"$dir/codebook.parquet")
        cbT.unpersist() // the persisted table replaces the caller-owned cache
        val cb = spark.read.parquet(s"$dir/codebook.parquet")
        argminSubAssign(subVectors(corpus, m, dim), cb)
          .write.mode("overwrite").parquet(s"$dir/codes.parquet")
      })
  }

  /** Add vectors to a [[writeIvfPqIndex]] artifact WITHOUT retraining —
    * the FAISS `add` shape, and the ANN twin of
    * [[Dedup.appendToSignatureArtifact]]: the delta is assigned to cells
    * and PQ codes by the STORED quantizers (read back from the artifact,
    * never recomputed) and appended to the two corpus-sized tables. The
    * trained tables are untouched, so every past and future search runs
    * against the same quantization geometry; retrain by rebuilding when
    * drift warrants it, as any ANN deployment does. Ids must be new.
    * Same single-runner append contract as the backfill sink. */
  def appendToIvfPqIndex(delta: DataFrame, dir: String,
                         m: Int = 4, dim: Int = 64): Unit = {
    val (cells, codes) = ivfPqAssignFrames(delta, dir, m, dim)
    cells.write.mode("append").parquet(s"$dir/cells.parquet")
    codes.write.mode("append").parquet(s"$dir/codes.parquet")
  }

  /** The delta's two index contributions — (cells, codes) — assigned by
    * the STORED quantizers at `dir` (never retrained; per-row functions of
    * the trained tables, so any micro-batch split of a delta yields the
    * same multiset). The caller writes them where its lifecycle needs: the
    * batch append above, or the streaming refresh's batchId-keyed fold. */
  def ivfPqAssignFrames(delta: DataFrame, dir: String,
                        m: Int = 4, dim: Int = 64): (DataFrame, DataFrame) = {
    val spark = delta.sparkSession
    val coarse = spark.read.parquet(s"$dir/cents.parquet")
    val cents = coarse.select(col("cell"), col("emb_cent"),
      sqrt(dotFP(col("emb_cent"), col("emb_cent"))).as("norm_cent"))
    val withNorm = delta.select(col("vec_id"), col("embedding"),
      sqrt(dotFP(col("embedding"), col("embedding"))).as("nrm"))
    val cells = argmaxAssign(withNorm, cents).select(col("vec_id"), col("cell"))
    val cb = spark.read.parquet(s"$dir/codebook.parquet")
    val codes = argminSubAssign(subVectors(delta, m, dim), cb)
    (cells, codes)
  }

  /** Search a [[writeIvfPqIndex]] artifact: the same [[adcSearch]] core as
    * the in-memory path (output-equal by construction — SimilaritySpec and
    * the q_ann_index oracle pin it), reading ONLY the four index tables.
    * The scans are the production shape: kCoarse+kPq·m broadcast-small
    * trained rows plus two narrow columnar corpus-sized tables; the
    * 64-float vectors never load. `m`/`dim`/`nprobe` must match the build
    * (as in any ANN library, the index is parameterized by its build). */
  def ivfPqSearchIndex(dir: String, queries: DataFrame, k: Int,
                       m: Int = 4, dim: Int = 64, nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    adcSearch(
      spark.read.parquet(s"$dir/cents.parquet"),
      spark.read.parquet(s"$dir/cells.parquet"),
      spark.read.parquet(s"$dir/codebook.parquet"),
      spark.read.parquet(s"$dir/codes.parquet"),
      queries, k, m, dim, nprobe)
  }

  /** Two-stage retrieval: IVFADC shortlist + EXACT re-rank — "IVFADC+R"
    * (Jégou et al., TPAMI 2011 §V; the FAISS refine stage every production
    * deployment runs). Stage 1 is [[ivfPqTopKTrained]] with a `shortlist`
    * ≥ k result list — the corpus is met only as m-byte PQ codes. Stage 2
    * fetches FULL vectors for the |queries|·shortlist surviving candidates
    * only and re-ranks them by exact L2², repairing the quantization error
    * ADC introduced for the final ordering.
    *
    * Scale shape: the candidate set is queries×shortlist (tiny) and
    * BROADCASTS to the corpus scan, so the full-vector fetch is one
    * shuffle-free broadcast-hash probe of the vector store — at 100 TB the
    * exact pass touches shortlist rows per query where brute force reads
    * the corpus; the re-rank window partitions by query over shortlist
    * rows. Determinism: the exact distance is the same detRound(q·q + v·v
    * − 2·q·v, 4) → 1e-4-integer recipe as the ADC sums; ranks tie-break on
    * vec_id.
    */
  def ivfPqRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                  shortlist: Int, m: Int = 4, dim: Int = 64,
                  kCoarse: Int = 32, coarseIters: Int = 2,
                  kPq: Int = 32, pqIters: Int = 1, nprobe: Int = 2,
                  coarseCents: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val short = ivfPqTopKTrained(corpus, queries, shortlist, m, dim,
        kCoarse, coarseIters, kPq, pqIters, nprobe, coarseCents)
      .select(col("query_id"), col("vec_id"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("emb_q"))
    // corpus streams, shortlist builds: the vector fetch is a broadcast
    // probe over the scan, never a corpus shuffle
    val exact = corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("d", detRound(
        dotFP(col("emb_q"), col("emb_q")) + dotFP(col("embedding"), col("embedding"))
          - lit(2.0) * dotFP(col("emb_q"), col("embedding")), 4))
      .select(col("query_id"), col("vec_id"),
        floor(col("d") * 1e4 + 0.5).cast("long").as("ds"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ds"), col("vec_id"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (col("ds").cast("double") / 1e4).as("exact_l2"))
  }

  /** ANN index-quality evaluation: recall@k of the IVF index against the
    * exact top-k, per query — the monitoring number every production ANN
    * deployment tracks (recall traded against the nprobe/cells scan
    * fraction). recall = |approx ∩ exact| / k with the constant-k
    * denominator, so truncated IVF result lists (a probed cell set holding
    * fewer than k neighbors) show up as lost recall, not a shrunk
    * denominator.
    *
    * Scale: the exact side is the evaluation ANCHOR and runs only over the
    * sampled query set (recall eval always samples — brute force over all
    * queries is exactly what the index exists to avoid); the overlap is an
    * id-only semi join, and both inputs are already-gated operators.
    */
  /** MRR probe of the IVF index — the third standard retrieval metric next
    * to recall@k (overlap count) and nDCG (whole-list grading): the rank at
    * which the EXACT nearest neighbor surfaces in the IVF list, reciprocal
    * 1/rank, 0 when the true neighbor escaped the probed cells
    * (rank_of_true = 0 encodes the miss). 1/rank is a single IEEE division
    * — correctly rounded on every engine, so no quantization table is
    * needed (unlike nDCG's log2 discounts). Same builders as annRecall:
    * one brute-force top-1 (the ground truth), one IVF top-k, an equi join.
    */
  def annMrr(corpus: DataFrame, queries: DataFrame, k: Int,
             centroidEvery: Int = 40, nprobe: Int = 2): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, 1)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfTopK(corpus, queries, k, centroidEvery, nprobe)
      .select(col("query_id"), col("vec_id"), col("rank"))
    val found = approx.join(truth, Seq("query_id", "vec_id"))
    queries.select(col("vec_id").as("query_id"))
      .join(found.select(col("query_id"), col("rank")), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("rank"), lit(0L)).as("rank_of_true"),
        when(col("rank").isNull, lit(0.0))
          .otherwise(detRound(lit(1.0) / col("rank"), 6)).as("rr"))
  }

  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                centroidEvery: Int = 40, nprobe: Int = 2): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfTopK(corpus, queries, k, centroidEvery, nprobe)
      .select(col("query_id"), col("vec_id"))
    val hits = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val nApprox = approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_approx"))
    queries.select(col("vec_id").as("query_id"))
      .join(nApprox, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        detRound(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 4).as("recall"))
  }
}
