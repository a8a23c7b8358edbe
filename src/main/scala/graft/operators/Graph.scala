package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.detRound

/** Iterative graph analytics on relational edges — the second graph
  * operator family next to [[Dedup.connectedComponents]]. Same execution
  * contract: one iteration = one co-partitioned join + one
  * map-side-combinable aggregate (O(iterations) jobs, never a driver loop
  * over vertices), state is a (node, value) table.
  */
/** Lineage truncation for an iterative round's state. Default is
  * `localCheckpoint()` — executor-memory blocks, fastest, but lost with the
  * executor (fine at local[32]; the loops' scaladocs document the risk).
  * With a `checkpointDir`, the round's state is WRITTEN AS PARQUET under a
  * per-loop-invocation unique root (`dir/loop-<uuid>/r<round>`) and read
  * back — the same durability and O(1)-lineage effect as a reliable
  * `df.checkpoint()`, with three deliberate differences: no session-global
  * `setCheckpointDir` mutation (nothing to restore, no race with other
  * checkpointing code on the session), no collision when two loops —
  * sequential or concurrent — share a `checkpointDir` (each invocation
  * owns a fresh uuid root), and files a plain `spark.read.parquet` can
  * re-open from ANY session after a crash.
  *
  * Disk lifecycle: the loop calls [[IterState.drop]] on round i−1 once
  * round i is materialized and every probe reading i−1 has run, so at most
  * two rounds exist on disk mid-loop and only the FINAL round's subdir
  * survives the loop (the returned frame reads from it). The caller owns
  * deleting `dir` itself when the result is no longer needed.
  *
  * Known trade vs `df.checkpoint()`: a parquet scan does not carry the
  * state's outputPartitioning, so reliable mode re-exchanges the O(nodes)
  * state into the next round's join where a checkpoint would have reused
  * the hash partitioning — the price of session isolation and any-session
  * re-open, paid only in the opt-in durable mode (default localCheckpoint
  * preserves partitioning as before). Measured: 10 pagerank rounds on the
  * sf0.1 co-purchase graph run 6.2 s default vs 9.6 s reliable
  * (~0.34 s/round of write + read + re-exchange) — the durable mode's
  * fsync floor, not a plan defect.
  */
private[operators] object IterState {
  /** Per-invocation unique root under the caller's dir — compute ONCE per
    * loop and pass to every [[apply]]/[[drop]] of that loop. */
  def root(checkpointDir: Option[String]): Option[String] =
    checkpointDir.map(d => s"$d/loop-${java.util.UUID.randomUUID()}")

  def apply(df: DataFrame, loopRoot: Option[String], round: Int): DataFrame =
    loopRoot match {
      case Some(r) =>
        val p = s"$r/r$round"
        df.write.mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p)
      case None => df.localCheckpoint()
    }

  /** [[apply]] for a (node, value) state whose value column is ALREADY
    * `detRound(_, scaleDigits)`-quantized and bounded well inside 2^53/10^s
    * (PageRank ranks: Σr = 1 ⇒ r ≤ 1): the reliable-mode parquet carries
    * the rank as its quantized LONG — `floor(r·10^s + 0.5)` recovers the
    * integer exactly, and the read-back `q / 10^s` is the SAME IEEE
    * division detRound performed, so the reconstructed double is
    * bit-identical (the oracle gates stay untouched) while the file shrinks
    * from fp64 payloads to delta-packed integers (measured ~2.4× smaller
    * per round at sf1 — checkpoint IO is ~half of sf100 pagerank's
    * off-CPU time, VERDICT r10 #2). Local mode is unchanged — blocks are
    * in-memory rows, there is nothing to compress.
    */
  def applyQuantized(df: DataFrame, loopRoot: Option[String], round: Int,
                     valueCol: String, scaleDigits: Int): DataFrame =
    loopRoot match {
      case Some(r) =>
        val f = math.pow(10, scaleDigits)
        val p = s"$r/r$round"
        df.select(col("node"),
            floor(col(valueCol) * f + 0.5).cast("long").as("__q"))
          .write.mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p)
          .select(col("node"), (col("__q") / f).as(valueCol))
      case None => df.localCheckpoint()
    }

  /** Delete round `round`'s subdir (no-op in local mode). Call only after
    * the NEXT round's state is materialized and every probe reading this
    * round has run. */
  def drop(df: DataFrame, loopRoot: Option[String], round: Int): Unit =
    loopRoot.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(s"$r/r$round")
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
}

object Graph {

  /** One PageRank iteration (damping 0.85) over an edge list, engine-exact:
    * each node's outgoing contribution `r/deg` is an IEEE division; the
    * in-neighbor accumulation — the order-sensitive float sum that normally
    * makes distributed PageRank non-reproducible — is quantized to 1e-12
    * integers BEFORE summing (labelCentroids' recipe), so partial
    * aggregates merge bit-identically on any partitioning or engine.
    *
    * `ranks` is (node, r); pass the output back in for the next iteration.
    * Directed inputs are handled honestly: the mass of dangling nodes (rank
    * rows with no out-edges) is redistributed uniformly — one quantized
    * broadcast scalar, so Σr stays 1 — and the output keeps the FULL node
    * set of `ranks` (a source-only node receives the base + dangling share
    * instead of vanishing). On a symmetric edge list the dangling set is
    * empty and both extensions reduce bit-exactly to the plain step (+0.0
    * and a left join that always matches), which is why the oracle-gated
    * queries are unchanged.
    */
  def pagerankStep(edges: DataFrame, ranks: DataFrame,
                   quantScale: Double = 1e12): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val contrib = edges.join(deg, Seq("src")).join(
        ranks.withColumnRenamed("node", "src"), Seq("src"))
      .withColumn("c", col("r") / col("deg"))
      .select(col("dst").as("node"),
        floor(col("c") * quantScale + 0.5).as("q"))
    val n = ranks.agg(count(lit(1)).as("n_nodes"))
    // dangling mass, quantized before summing like the contributions, so
    // the scalar is engine/partitioning-exact
    val dangling = ranks
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .agg(coalesce(sum(floor(col("r") * quantScale + 0.5)), lit(0L)).as("dq"))
    ranks.select(col("node"))
      .join(contrib.groupBy(col("node")).agg(sum(col("q")).as("sq")),
        Seq("node"), "left")
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(dangling))
      .select(col("node"),
        detRound(lit(0.15) / col("n_nodes") +
          lit(0.85) * (coalesce(col("sq"), lit(0L)) / quantScale) +
          lit(0.85) * ((col("dq") / quantScale) / col("n_nodes")), 10).as("r"))
  }

  /** Triangle count over an undirected edge list (`a`,`b` unique pairs,
    * a ≠ b) via the degree-ordered node-iterator: orient every edge from
    * its (degree, id)-smaller endpoint to the larger, form wedges only at
    * the oriented apex, and close each wedge against the undirected edge
    * table with an equi-join. The orientation bounds per-node out-degree by
    * O(√m) on any graph, so the wedge table — the only super-linear
    * intermediate — stays near m^1.5 worst-case instead of Σdeg², and every
    * triangle is produced exactly once (at its unique min-(deg,id) apex).
    *
    * Emits one row: n_nodes, n_edges, n_wedges, n_triangles.
    */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // deliberate materialization: the normalized edge table feeds four
    // DIFFERENTLY-SHAPED subtrees (degree explode, orientation join, wedge
    // closing, edge count) that exchange-reuse cannot dedup, and the
    // upstream pair-generation lineage is the expensive part (measured
    // 5.9s -> 4.3s at sf0.1). Contrast pagerankStep, where the identical
    // edge scans DO reuse the shuffle and an explicit cache slowed it 1.7x.
    val und = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .cache()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    // wedge endpoints normalized to id order so the closing join against
    // the (a < b)-normalized undirected table is a plain equi-join
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("x"), col("e2.dst").as("y"))
    val closed = wedges.join(und,
      col("x") === col("a") && col("y") === col("b"), "left")
    closed
      .agg(count(lit(1)).as("n_wedges"),
        sum(when(col("a").isNotNull, 1L).otherwise(0L)).as("n_triangles"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a directed edge
    * list, run exactly `maxIter` deterministic rounds: authority pull
    * `a(v) = Σ_{u→v} h(u)`, L2-normalize, hub push `h(u) = Σ_{u→v} a(v)`,
    * L2-normalize. The mutual-reinforcement scores PageRank's single
    * random-surfer rank cannot express — hubs (good pointers) and
    * authorities (good targets) are DIFFERENT axes on a directed graph.
    *
    * Determinism (the pagerank recipe): contributions quantize to
    * `quantScale` integers BEFORE each sum; the L2 norm accumulates
    * MAX-SCALED squares — `(x/max)²` quantized to `normQuant` — so the
    * quantization is RELATIVE to the score scale: a fixed-scale quantizer
    * would either overflow the BIGINT sum (large values × many rows) or
    * floor every square to 0 once scores shrink below 1/√normQuant
    * (normalized scores fall as 1/√n), a ceiling at ~1e6 nodes; the
    * max-scaled form is exact-deterministic (max is order-free, divisions
    * are IEEE) and scale-free, with the norm recovered as
    * `max · √(Σq/normQuant)`. Each half-step's scores round to 1e-10, so
    * every round is bit-identical cross-engine and the oracle unrolls the
    * chain exactly.
    *
    * Shape per half-step: one equi join on the edge key + one map-side
    * combinable quantized sum + a one-row broadcast norm scalar. The edge
    * table is cached for its 2·maxIter reads (the persisted graph
    * artifact at scale; lifecycle note as in dsirSelect — released at the
    * session's next cache clear). Small fixed `maxIter` keeps lineage
    * shallow; a deep production loop should rotate [[IterState]]
    * checkpoints like [[pagerankRun]].
    *
    * Returns (node, kind, score): `kind` = 'hub' for source-side nodes,
    * 'auth' for targets (disjoint by construction on a bipartite graph).
    */
  def hits(edges: DataFrame, maxIter: Int = 2, quantScale: Double = 1e12,
           normQuant: Double = 1e9,
           checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter >= 1, "HITS needs at least one round")
    // per-half-step exchanges sized to the edge table (see pagerankRun)
    Parallelism.withInputSizedShuffle(Seq(edges)) {
    val ckRoot = IterState.root(checkpointDir)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().cache()
    // Each half-step's RAW sums and its normalized scores are IterState-
    // materialized: normalized() reads its input three times (max, sum of
    // scaled squares, the final projection) and rounds nest — left lazy,
    // the recomputation is 3^(2·maxIter) over the base lineage (measured:
    // 47.6 s for 2 rounds at sf0.1 lazy vs 2.9 s checkpointed).
    def normalized(df: DataFrame, c: String, round: Int): DataFrame = {
      // RAW half-step sums stay fp64 in reliable mode: round 1 runs on
      // h ≡ 1, so a raw authority sum reaches the max in-degree — quantized
      // at 1e12 that overflows the 2^53 exact-long window beyond ~9e3, a
      // bound real graphs break (the applyQuantized negative result for
      // this state; the NORMALIZED states below are the safe ones).
      val raw = IterState(df, ckRoot, round)
      val m = raw.agg(max(abs(col(c))).as("m"))
      val ss = raw.crossJoin(broadcast(m))
        .agg(sum(floor((col(c) / col("m")) * (col(c) / col("m")) * normQuant
          + 0.5)).as("ssq"), max(col("m")).as("m"))
      // m = 0 means EVERY score quantized to zero (|scores| < ~1/quantScale,
      // i.e. a degenerate/astronomically-large graph): the norm is 0 and the
      // division would emit NaN that detRound propagates silently. Guard to
      // an all-zero score vector — the mathematically consistent limit, and
      // deterministic where NaN ordering is not (ADVICE r10).
      // L2-normalized scores are |·| ≤ 1 and already detRound(_, 10)-
      // quantized — exactly applyQuantized's contract (pagerank's r11
      // recipe): reliable-mode checkpoints carry the 1e10-scaled LONG and
      // the read-back division is bit-identical. MEASURED at sf10 (15M
      // edges, history/SCALE_PROBE_r12_iterio.json): wall 12–13 s and state bytes
      // 174.7 MB on BOTH sides, checksum equal — the pagerank 2.4× file shrink does
      // NOT transfer here, because HITS scores are degree-diverse (high-
      // entropy longs; pagerank's win came from repeated rank values that
      // dictionary/delta-pack). Kept for recipe consistency at zero cost.
      val out = IterState.applyQuantized(
        raw.crossJoin(broadcast(ss))
          .select(col("node"),
            when(col("m") === 0.0, lit(0.0)).otherwise(
              detRound(col(c) / (col("m") * sqrt(col("ssq") / normQuant)), 10)).as(c)),
        ckRoot, round + 1, c, 10)
      IterState.drop(raw, ckRoot, round)
      out
    }
    var h = e.select(col("src").as("node")).distinct().withColumn("h", lit(1.0))
    var a: DataFrame = h // replaced in round 1
    for (i <- 0 until maxIter) {
      a = normalized(
        e.join(h.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            floor(col("h") * quantScale + 0.5).as("q"))
          .groupBy(col("node")).agg((sum(col("q")) / quantScale).as("a")),
        "a", 4 * i)
      h = normalized(
        e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node"),
            floor(col("a") * quantScale + 0.5).as("q"))
          .groupBy(col("node")).agg((sum(col("q")) / quantScale).as("h")),
        "h", 4 * i + 2)
    }
    val out = h.select(col("node"), lit("hub").as("kind"), col("h").as("score"))
      .unionAll(a.select(col("node"), lit("auth").as("kind"), col("a").as("score")))
    e.unpersist()
    out
    }
  }

  /** Resource-Allocation link prediction (Zhou/Lü/Zhang, Eur. Phys. J. B
    * 2009) over an undirected pair table: candidate pair (a, b) — NOT
    * already an edge — scores `Σ_{u ∈ N(a)∩N(b)} 1/deg(u)`, the RA index
    * (Adamic–Adar's 1/ln(deg) sibling that benchmarks at least as well
    * and needs no transcendental — 1/deg is one IEEE division, exact
    * cross-engine, where ln's last ULP is not; the [[TextAnalysis]]
    * tf-rarity determinism convention). Weights quantize to 1e-6 integers
    * BEFORE the pair sum, ranks tie-break on (a, b), so the top-k set is
    * unique on every engine.
    *
    * Scale shape: degrees and weights attach at the center node u with ONE
    * shuffle; the wedge self-join on u reuses that partitioning; the fanout
    * is Σ deg(u)² — bounded on the co-purchase artifact by its basket-size
    * cap and min-support prune (the [[triangleStats]] argument); the final
    * top-k is TakeOrdered, never a global sort.
    */
  def resourceAllocation(pairs: DataFrame, aCol: String, bCol: String,
                         k: Int = 50, quantScale: Double = 1e6): DataFrame = {
    val und = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val nb = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
    val deg = nb.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val w = nb.join(deg, Seq("u"))
      .select(col("u"), col("v"),
        floor(lit(quantScale) / col("deg") + lit(0.5)).cast("long").as("w_q"))
    val cand = w.as("l").join(w.as("r"),
        col("l.u") === col("r.u") && col("l.v") < col("r.v"))
      .select(col("l.v").as("a"), col("r.v").as("b"), col("l.w_q").as("w_q"))
      .groupBy(col("a"), col("b")).agg(sum(col("w_q")).as("score_q"))
    cand.join(und, Seq("a", "b"), "left_anti")
      .orderBy(col("score_q").desc, col("a"), col("b")).limit(k)
      .select(col("a").as("item_a"), col("b").as("item_b"),
        detRound(col("score_q").cast("double") / quantScale, 4).as("score"))
  }

  /** One label-propagation step (community detection's inner loop): every
    * node takes the MODE of its neighbors' labels, ties to the smallest
    * label — where [[graft.operators.Dedup.connectedComponents]] spreads
    * the min over any connectivity, mode-voting respects edge density, so
    * iterating partitions the graph into communities. One step is (join
    * labels to the directed edge list) + a map-side-combinable (node,
    * label) count + a per-node window bounded by the node's distinct
    * neighbor-label count; feed the output back per iteration, O(diameter)
    * rounds like the CC loop.
    */
  def labelPropStep(pairs: DataFrame, aCol: String, bCol: String,
                    labels: DataFrame): DataFrame = {
    val dir = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
    val votes = dir
      .join(labels.select(col("node").as("dst"), col("label").as("nl")), Seq("dst"))
      .groupBy(col("src").as("node"), col("nl"))
      .agg(count(lit(1)).as("votes"))
    // mode vote as a map-side-combinable argmax — min_by over (-votes, nl)
    // is the old window's (votes DESC, nl ASC) winner and, unlike a negated
    // label, works for labels of ANY orderable type (strings included)
    votes.groupBy(col("node"))
      .agg(min_by(struct(col("nl"), col("votes")),
        struct(-col("votes"), col("nl"))).as("w"))
      .select(col("node"), col("w.nl").as("label"), col("w.votes").as("votes"))
  }

  /** Uniform 1/N starting ranks for the nodes appearing in `edges`. */
  def uniformRanks(edges: DataFrame): DataFrame =
    uniformRanksFor(edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct())

  /** 1/N ranks over an already-distinct node table — shared by
    * [[uniformRanks]] and [[pagerankRun]] (which reuses its cached node
    * universe instead of re-deriving the distinct). */
  private def uniformRanksFor(nodes: DataFrame): DataFrame =
    nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))

  /** PageRank iterated to convergence — [[pagerankStep]]'s arithmetic
    * (quantized contribution sums, per-round detRound to 1e-10) in the
    * [[Dedup.connectedComponents]] execution contract: O(rounds) Spark
    * jobs, never a driver loop over vertices. Per round: one co-partitioned
    * join of (edges ⋈ degrees ⋈ ranks) + one map-side-combinable sum; the
    * edge table and out-degrees are computed ONCE and cached for every
    * round (at 100 TB they are the persisted graph artifact).
    *
    * `tol > 0` adds a per-round max|Δr| scalar probe (rides the same action
    * that materializes the round's ranks lineage) and stops early at the
    * fixpoint; `tol = 0` runs exactly `maxIter` rounds — the deterministic
    * mode the DuckDB oracle unrolls. Eager contract ([[Dedup
    * .minhashLshPairs]]): build-side caches are released before returning;
    * the returned ranks are an already-materialized local checkpoint whose
    * blocks the ContextCleaner frees once the frame is unreferenced.
    *
    * Directed inputs: dangling-node mass is redistributed per round
    * (matching [[pagerankStep]]) — the dangling node SET is static (it
    * depends only on degrees), computed once; its per-round quantized mass
    * is a broadcast scalar that rides the round's checkpoint action. Every
    * round joins the contribution aggregate back onto the full node
    * universe (an in-degree-0 node keeps its 0.15/N base share instead of
    * vanishing); when additionally the dangling set is empty — every
    * symmetric edge list, e.g. the co-purchase graph — that left join
    * matches every row and the VALUES are bit-identical to the plain
    * aggregate, which is why the oracle-gated q_pagerank is untouched.
    */
  def pagerank(edges: DataFrame, maxIter: Int = 20, tol: Double = 0.0,
               quantScale: Double = 1e12,
               checkpointDir: Option[String] = None): DataFrame =
    pagerankRun(edges, maxIter, tol, quantScale, checkpointDir)._1

  /** [[pagerank]] plus the number of rounds actually executed — the
    * observable the early-exit spec pins. */
  def pagerankRun(edges: DataFrame, maxIter: Int = 20, tol: Double = 0.0,
                  quantScale: Double = 1e12,
                  checkpointDir: Option[String] = None): (DataFrame, Int) =
    // per-round exchanges sized to the edge table (guide §2 scale-adaptive
    // partitioning; no-op when bytes/target ≥ the session width)
    Parallelism.withInputSizedShuffle(Seq(edges)) {
    val ckRoot = IterState.root(checkpointDir)
    val e = edges.cache()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).cache()
    // the node universe and (static) dangling set are derived from the
    // cached EDGE table — not from a round-0 state whose files the loop
    // later deletes — and computed ONCE (uniformRanks would repeat the
    // same corpus-wide distinct)
    val nodesDf = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().cache()
    val nNodes = nodesDf.count() // N is constant across rounds
    // the rank expressions are built HERE, not in the shared loop, so the
    // uniform base term stays the exact `0.15/N` IEEE division the oracle
    // gates pin (vs personalizedPagerank's `0.15·s` multiplication)
    val noDangling = detRound(lit(0.15) / nNodes +
      lit(0.85) * (coalesce(col("sq"), lit(0L)) / quantScale), 10)
    val withDangling = detRound(lit(0.15) / nNodes +
      lit(0.85) * (coalesce(col("sq"), lit(0L)) / quantScale) +
      lit(0.85) * ((col("dq") / quantScale) / nNodes), 10)
    val out = rankLoop(e, deg, nodesDf, base = nodesDf,
      r0 = uniformRanksFor(nodesDf), noDangling, withDangling,
      maxIter, tol, quantScale, ckRoot)
    e.unpersist()
    deg.unpersist()
    nodesDf.unpersist()
    out
    }

  /** The shared PageRank fixpoint skeleton — everything in
    * [[pagerankRun]]/[[personalizedPagerankRun]] except their rank
    * arithmetic: per round one co-partitioned (edges ⋈ degrees ⋈ ranks)
    * join + one map-side-combinable quantized contribution sum, a left
    * join back onto `base` (the full node universe — an in-degree-0 node
    * receives no contribution, sq null → 0, but must not vanish), the
    * dangling-mass broadcast scalar when the static dangling set is
    * non-empty, [[IterState]] checkpoint rotation (O(1) lineage — caching
    * would keep the O(rounds)-deep plan AQE's plan-string rendering OOMs
    * on near 60 rounds), and the tol-based early-exit probe riding the
    * round's checkpoint action.
    *
    * `rankNoDangling` / `rankWithDangling` are evaluated over the joined
    * frame's `sq` (and `dq`, dangling case) plus any column `base` carries
    * (the personalization share `s`); callers build them with their own
    * literals so each loop's oracle-pinned bits stay byte-exact.
    * `releaseAfterSetup` runs once round 0 is checkpointed and the
    * dangling probe has fired — the hook where a caller unpersists
    * build-only inputs its expressions never read again.
    */
  private def rankLoop(e: DataFrame, deg: DataFrame, nodesDf: DataFrame,
                       base: DataFrame, r0: DataFrame,
                       rankNoDangling: Column, rankWithDangling: Column,
                       maxIter: Int, tol: Double, quantScale: Double,
                       ckRoot: Option[String],
                       releaseAfterSetup: () => Unit = () => ()): (DataFrame, Int) = {
    var ranks = IterState(r0, ckRoot, 0)
    // The loop's edge table, EXCHANGED AND SORTED ON src ONCE: the cached
    // InMemoryRelation advertises its hash partitioning and within-partition
    // order, so every round's edge join reuses them instead of re-exchanging
    // + re-sorting
    // the corpus-sized edge side per round — at sf100 (600M edges × 3
    // rounds) that per-round SMJ re-sort was the single largest slice of
    // the ~49% off-CPU time (VERDICT r10 #2). One extra copy of the edges
    // lives in (spillable) cache for the loop's duration.
    val eSorted = e.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions("src").cache()
    val danglingNodes = nodesDf
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .cache()
    val hasDangling = !danglingNodes.isEmpty
    releaseAfterSetup()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // Per-round shape: the quantized per-source contribution is computed
      // on the NODE-SIZED (deg ⋈ ranks) join — r/deg is constant across a
      // source's out-edges, so quantizing once per source is bit-identical
      // to the old per-edge evaluation (same expression, same values) and
      // the round pays ONE edge-sized join (against the presorted cache)
      // instead of two.
      //
      // Join strategy, probed at 1000× rows (600M edges, 165M nodes,
      // single node): forced SHUFFLE_HASH hints on the node-sized sides
      // fail outright under 32-way task concurrency ("can't acquire 256MB
      // to build hash relation" — the SHJ build map cannot spill), while
      // a session-wide preferSortMergeJoin=false ran 263 s vs SMJ's
      // 330 s. SMJ degrades by SPILLING instead of dying — the right
      // default for an operator that must survive any scale. On a real
      // cluster the planner's size-guarded SHJ (preferSortMergeJoin=false,
      // NOT a forced hint) is the tuning knob worth flipping.
      val contrib = deg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("src"),
          floor((col("r") / col("deg")) * quantScale + 0.5).as("q"))
      val sq = eSorted.join(contrib, Seq("src"))
        .select(col("dst").as("node"), col("q"))
        .groupBy(col("node")).agg(sum(col("q")).as("sq"))
      val joined = base.join(sq, Seq("node"), "left")
      val next =
        if (!hasDangling)
          joined.select(col("node"), rankNoDangling.as("r"))
        else {
          val dangling = ranks.join(danglingNodes, Seq("node"))
            .agg(coalesce(sum(floor(col("r") * quantScale + 0.5)), lit(0L)).as("dq"))
          joined.crossJoin(broadcast(dangling))
            .select(col("node"), rankWithDangling.as("r"))
        }
      // rounds ≥ 1 are detRound(_, 10) outputs with Σr = 1 — the reliable
      // checkpoint stores them as quantized LONGs (bit-identical read-back,
      // ~2.4× less IO); round 0 (1/N or the raw teleport share) is NOT
      // quantized and stays fp64
      val nextCk = IterState.applyQuantized(next, ckRoot, iter + 1, "r", 10)
      if (tol > 0) {
        val delta = nextCk.as("n").join(ranks.as("o"), Seq("node"))
          .agg(max(abs(col("n.r") - col("o.r"))).as("d"))
          .collect()(0).getDouble(0)
        converged = delta <= tol
      }
      // previous round's state is no longer referenced: local-checkpoint
      // blocks are released by the ContextCleaner; reliable-checkpoint
      // files are deleted explicitly (see IterState scaladoc)
      IterState.drop(ranks, ckRoot, iter)
      ranks = nextCk
      iter += 1
    }
    danglingNodes.unpersist()
    eSorted.unpersist()
    (ranks, iter)
  }

  /** Personalized PageRank — [[pagerank]]'s loop with the teleport vector
    * concentrated on a seed set instead of uniform: each round every node
    * gets `0.15·s + 0.85·Σ(contributions) + 0.85·danglingMass·s`, where
    * `s = 1/|seeds|` for seed nodes and 0 otherwise. Both the random-surfer
    * restart AND the dangling-node mass return to the seeds, so the
    * stationary ranks measure proximity to the seed set — the standard
    * seed-based quality-weighting signal for web-corpus curation (rank
    * documents/domains by how reachable they are from a trusted whitelist).
    *
    * Same engine-exact arithmetic as [[pagerankRun]] (1e-12-quantized
    * contribution sums, per-round detRound to 1e-10, left-associative
    * term order) so a DuckDB oracle can unroll `tol = 0` rounds
    * bit-identically; same execution contract (edges/degrees/seed-share
    * cached once, per-round state [[IterState]]-checkpointed to O(1)
    * lineage, eager cache release). Kept a SEPARATE loop from
    * [[pagerankRun]] rather than a seed parameter because the uniform
    * base term there is `0.15/N` while this one is `0.15·s` — an IEEE
    * division vs a multiplication whose values differ in the last ulp, and
    * the uniform loop's oracle gates pin its exact bits.
    *
    * Seeds outside the edge list's node universe are ignored (the share
    * denominator counts only seeds that are graph nodes); an empty
    * effective seed set is rejected. Output covers the FULL node universe —
    * nodes unreachable from the seeds hold rank 0 rather than vanishing.
    */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           maxIter: Int = 20, tol: Double = 0.0,
                           quantScale: Double = 1e12,
                           checkpointDir: Option[String] = None): DataFrame =
    personalizedPagerankRun(edges, seeds, maxIter, tol, quantScale, checkpointDir)._1

  /** [[personalizedPagerank]] plus the number of rounds executed. */
  def personalizedPagerankRun(edges: DataFrame, seeds: DataFrame,
                              maxIter: Int = 20, tol: Double = 0.0,
                              quantScale: Double = 1e12,
                              checkpointDir: Option[String] = None): (DataFrame, Int) =
    // per-round exchanges sized to the edge table (see pagerankRun)
    Parallelism.withInputSizedShuffle(Seq(edges)) {
    val ckRoot = IterState.root(checkpointDir)
    val e = edges.cache()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).cache()
    val nodesDf = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct().cache()
    // effective seeds = requested seeds ∩ node universe; |S| is a one-off
    // driver scalar (like pagerankRun's nNodes), NOT a per-round collect
    val seedSet = seeds.select(col("node")).distinct()
      .join(nodesDf, Seq("node")).cache()
    val nSeeds = seedSet.count()
    require(nSeeds > 0,
      "personalizedPagerank: no seed intersects the edge list's nodes")
    // static per-node teleport share — O(nodes) like the rank state, NOT
    // broadcast-small (only the seed SET is). It replaces the uniform
    // loop's node-universe table in the per-round left join: cached once
    // with hash partitioning on node, so each round's join reuses the
    // exchange instead of reshuffling it (at 100 TB it is the persisted
    // companion of the edge artifact, exactly like the degree table)
    val share = nodesDf
      .join(seedSet.select(col("node"), lit(1.0 / nSeeds).as("s")), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0.0)).as("s"))
      .cache()
    val noDangling = detRound(lit(0.15) * col("s") +
      lit(0.85) * (coalesce(col("sq"), lit(0L)) / quantScale), 10)
    val withDangling = detRound(lit(0.15) * col("s") +
      lit(0.85) * (coalesce(col("sq"), lit(0L)) / quantScale) +
      lit(0.85) * ((col("dq") / quantScale) * col("s")), 10)
    // r0 = the teleport vector itself (the canonical PPR start — already
    // normalized, and rounds fewer than a uniform start would need).
    // Writing it also materializes `share`'s cache, so the build-only
    // nodesDf/seedSet can be released as soon as the skeleton's setup is
    // done instead of staying pinned for the whole loop.
    val out = rankLoop(e, deg, nodesDf, base = share,
      r0 = share.select(col("node"), col("s").as("r")),
      noDangling, withDangling, maxIter, tol, quantScale, ckRoot,
      releaseAfterSetup = () => { nodesDf.unpersist(); seedSet.unpersist() })
    e.unpersist()
    deg.unpersist()
    share.unpersist()
    out
    }

  /** Label propagation iterated until no label flips AND no new node is
    * labeled (or `maxIter`, which also bounds the 2-cycle oscillation LPA
    * is known for). Per round = [[labelPropStep]]'s vote join + min_by
    * mode argmax, then a FULL OUTER union of the vote result with the
    * prior state — so the output node set is the seeds PLUS every node the
    * spread reaches (semi-supervised seed-and-spread; isolated seeds keep
    * their prior label). Callers seeding every node get exactly the seed
    * set back. Same eager cache contract as [[pagerank]].
    */
  def labelProp(pairs: DataFrame, aCol: String, bCol: String,
                labels: DataFrame, maxIter: Int = 10,
                checkpointDir: Option[String] = None): DataFrame = {
    // Width floor derived from the VOTE table, not the pair table (r18,
    // VERDICT r17 #4): label-prop's per-round working set is one row per
    // DIRECTED edge (the vote join output), and its aggregation — min_by
    // mode argmax plus a full-outer state union — is the loop's real CPU,
    // far denser per byte than pagerank's quantized-sum rounds. Sizing by
    // pair bytes alone derived width 1 here and serialized that CPU
    // (r17's one knowingly-kept loop-sizing loss, +0.2 s). The floor is
    // ceil(2·|pairs bytes| / 128 KB) clamped to [1, 16] — edge-byte-derived
    // so it stays a no-op at scale, where the 32 MB main derivation
    // already exceeds any floor.
    val voteFloor =
      Parallelism.widthFor(2L * Parallelism.planBytes(pairs).getOrElse(0L), 128L << 10, 1, 16)
    // per-round exchanges sized to the pair table (see pagerankRun)
    Parallelism.withInputSizedShuffle(Seq(pairs, labels), floorN = voteFloor) {
    val ckRoot = IterState.root(checkpointDir)
    // both directions in ONE pass over the pair lineage (CC's explode
    // trick), cached once for all rounds
    val dir = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    // checkpoint per round ([[IterState]]), same rationale as [[pagerank]]:
    // O(1) lineage depth instead of O(rounds). applyQuantized negative
    // result (VERDICT r11 #5): this state is (node, label) — both LONGs
    // already, parquet delta/dictionary-packs them natively; there is no
    // fp64 payload to quantize away.
    var cur = IterState(labels.select(col("node"), col("label")), ckRoot, 0)
    var iter = 0
    var stable = false
    while (iter < maxIter && !stable) {
      val votes = dir
        .join(cur.select(col("node").as("dst"), col("label").as("nl")), Seq("dst"))
        .groupBy(col("src").as("node"), col("nl"))
        .agg(count(lit(1)).as("votes"))
      // same argmax-not-window rewrite as [[labelPropStep]]
      val voted = votes.groupBy(col("node"))
        .agg(min_by(col("nl"), struct(-col("votes"), col("nl"))).as("vote"))
      // FULL outer join of prior state and votes: an isolated labeled node
      // keeps its prior label (r7 advice — no vote, right side null), and
      // an UNLABELED node reached by the spread enters the state with its
      // vote (semi-supervised seed-and-spread; a left join from `cur`
      // would freeze the node set to the seeds).
      val next = IterState(
        cur.join(voted, Seq("node"), "full_outer")
          .select(col("node"), coalesce(col("vote"), col("label")).as("label")),
        ckRoot, iter + 1)
      // a node is "changed" if its label flipped OR it is newly labeled —
      // next ⊇ cur, so a left join from next sees both cases
      val changed = next.as("n").join(cur.as("o"), Seq("node"), "left")
        .agg(sum(when(col("o.label").isNull ||
          col("n.label") =!= col("o.label"), 1L).otherwise(0L)).as("c"))
        .collect()(0).getLong(0)
      stable = changed == 0L
      IterState.drop(cur, ckRoot, iter)
      cur = next
      iter += 1
    }
    dir.unpersist()
    cur
    }
  }
}
