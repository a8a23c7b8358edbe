package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"), // near-dup of 1
    (3L, "completely different text with other words here", "en"),
    (4L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
    (5L, "kurze worte", "de")).toDF("doc_id", "text", "lang")

  test("exactDedup keeps min id and counts copies") {
    val r = Dedup.exactDedup(docs, $"text", $"doc_id")
      .orderBy($"doc_id").collect()
    assert(r.length === 4)
    val dup = r.find(_.getLong(1) == 1L).get
    assert(dup.getLong(2) === 2L) // docs 1 and 4
  }

  test("jaccardPairs finds the near-dup pair within the lang block") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.6)
      .orderBy($"doc_id_a", $"doc_id_b").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 2L))) // 8/10 words shared = 0.8
    assert(keys.contains((1L, 4L)) && keys.contains((2L, 4L)))
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L })
    assert(!keys.exists { case (a, b) => a == 5L || b == 5L }) // other block
    val j14 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(j14.getDouble(2) === 1.0)
  }

  test("jaccardPairs large-vocab path (>64 words) agrees with brute force") {
    // >64 distinct words forces the sorted-int-id array encoding (the
    // bitmask fast path is vocab<=64); results must be identical either way.
    def sentence(ids: Seq[Int]): String = ids.map(i => s"w$i").mkString(" ")
    val big = Seq(
      (1L, sentence(0 until 40), "en"),
      (2L, sentence(5 until 45), "en"),          // |∩|=35, |∪|=45 → 0.777…
      (3L, sentence(40 until 80), "en"),         // disjoint from 1
      (4L, sentence(0 until 40), "en"),          // exact dup of 1
      (5L, sentence(60 until 100), "de")).toDF("doc_id", "text", "lang")
    val pairs = Dedup.jaccardPairs(big, "doc_id", "text", "lang", 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 35.0 / 45.0)
    assert(pairs((1L, 4L)) === 1.0)
    assert(pairs((2L, 4L)) === 35.0 / 45.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("jaccardPairs drops null-text docs and keeps empty-string as a token") {
    val withNull = Seq(
      (1L, "a b c", "en"), (2L, "a b c", "en"),
      (3L, null.asInstanceOf[String], "en"),
      (4L, "", "en"), (5L, "", "en")).toDF("doc_id", "text", "lang")
    val pairs = Dedup.jaccardPairs(withNull, "doc_id", "text", "lang", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L))) // split("") = [""]: the empty token matches
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // null drops
  }

  test("jaccardPairs: empty vocabulary (all-null corpus / zero docs) yields empty, no throw") {
    // ADVICE r6: an empty probed vocab must not build a NullType-keyed
    // power map (element_at would fail analysis) — it short-circuits to
    // the array path, which yields no pairs
    val allNull = Seq((1L, null.asInstanceOf[String], "en"),
      (2L, null.asInstanceOf[String], "en")).toDF("doc_id", "text", "lang")
    assert(Dedup.jaccardPairs(allNull, "doc_id", "text", "lang", 0.5).count() === 0L)
    val empty = spark.emptyDataset[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(Dedup.jaccardPairs(empty, "doc_id", "text", "lang", 0.5).count() === 0L)
  }

  test("size-ratio prune never removes a pair at or above threshold") {
    // identical pair with very different sizes fails the ratio → jaccard
    // must already be < threshold; verify bound holds on random-ish fixtures
    val t = 0.6
    val all = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pruned = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    all.foreach { case (k, j) =>
      if (j >= t) assert(pruned.contains(k), s"pair $k with jaccard $j missing")
    }
  }

  test("minhashLshPairs candidates are verified by true jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text").collect()
    // every emitted pair must have shingle-jaccard >= 0.6 (verified step)
    pairs.foreach(r => assert(r.getDouble(2) >= 0.6))
    // the exact dup pair (1,4) has identical signatures in every band
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 4L &&
      r.getDouble(2) == 1.0))
  }

  test("simhashPairs finds exact dup with hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text").collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 4L && r.getInt(2) == 0))
    pairs.foreach(r => assert(r.getInt(2) <= 3))
  }

  test("simhash60 signatures are non-negative and below 2^60") {
    val sigs = Dedup.simhash60(docs, "doc_id", "text").collect()
    sigs.foreach { r =>
      val s = r.getLong(1)
      assert(s >= 0L && s < (1L << 60))
    }
  }

  test("native shingleSet equals the sort_array(array_distinct(shingles3)) chain") {
    val texts = Seq("a b c d e", "one two", "", "x", "a a a a",
      "the quick brown fox jumps over the lazy dog",
      "dup dup dup dup", "tab\tinside works too", "a  b c") // double space → empty word
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = graft.operators.Dedup.withShingles(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    val chain = df.withColumn("__w", split($"text", " "))
      .select($"doc_id",
        sort_array(array_distinct(
          graft.operators.Dedup.shingles3($"text", $"__w"))).as("sh"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    native.zip(chain).zipWithIndex.foreach { case ((n, c), i) =>
      assert(n === c, s"mismatch on '${texts(i)}'")
    }
  }

  test("hash60 matches an independent md5 computation") {
    val r = Seq("hello").toDF("s").select(Dedup.hash60($"s"), Dedup.hash60b($"s")).collect()(0)
    // values cross-checked against DuckDB: CAST('0x'||substr(md5('hello'),1,15) AS BIGINT)
    assert(r.getLong(0) === 419982666956583591L)
    assert(r.getLong(1) === 84790646L)
  }

  test("rollingFingerprint equals direct per-window Horner min (mod arithmetic)") {
    val B = TextAnalysis.FingerprintBase
    val M = TextAnalysis.FingerprintMod
    def direct(s: String, k: Int): Long = {
      val cps = s.codePoints().toArray
      if (s.isEmpty) 0L
      else if (cps.length <= k) cps.foldLeft(0L)((h, c) => (h * B + c) % M)
      else (0 to cps.length - k).map { j =>
        cps.slice(j, j + k).foldLeft(0L)((h, c) => (h * B + c) % M)
      }.min
    }
    val rnd = new scala.util.Random(7)
    val samples = Seq("", "ab", "abcdefgh", "the quick brown fox é ç ü") ++
      (0 until 50).map(_ => (0 until rnd.nextInt(40)).map(_ =>
        ('a' + rnd.nextInt(26)).toChar).mkString)
    samples.foreach { s =>
      assert(TextAnalysis.rollingFingerprint(s) === direct(s, 8), s"mismatch on '$s'")
    }
  }

  test("connectedComponents propagates min label across multi-hop chains") {
    val nodes = (1L to 10L).toDF("doc_id")
    // a 4-chain (needs >1 propagation round), a 2-clique, and isolated nodes
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
      .toDF("doc_id_a", "doc_id_b")
    val comps = Dedup.connectedComponents(nodes, "doc_id", pairs, "doc_id_a", "doc_id_b")
      .orderBy($"doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 9L))
  }

  test("minhashLshPairsIncremental == full LSH pairs restricted to >=1 delta member") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text")
    val incr = Dedup.minhashLshPairsIncremental(docs, "doc_id", "text",
      col("doc_id") % 4 === 0)
    val expected = full
      .filter(col("doc_id_a") % 4 === 0 || col("doc_id_b") % 4 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = incr.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    // and base×base pairs really are excluded relative to the full run
    val baseOnly = full.filter(col("doc_id_a") % 4 =!= 0 && col("doc_id_b") % 4 =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(baseOnly.intersect(got.map(t => (t._1, t._2))).isEmpty)
    full.unpersist(); incr.unpersist()
  }

  test("duplicateSpanStats: shared 5-gram spans are counted, unique text is not") {
    val shared = "one two three four five six" // 6 words → 2 distinct 5-grams
    val docs = Seq(
      (1L, s"$shared alpha beta gamma delta"), // shares both 5-grams with doc 2
      (2L, s"prefix words here then $shared"),
      (3L, "entirely unrelated text with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // doc1: 10 words → 6 grams, 2 duplicated; doc2: 10 words → 6 grams, 2 dup
    assert(out(0) === ((1L, 6L, 2L, 0.3333, false)))
    assert(out(1) === ((2L, 6L, 2L, 0.3333, false)))
    assert(out(2)._3 === 0L && out(2)._5 === false)
  }

  test("duplicateSpanStats: short-doc whole-text fallback flags exact twins") {
    val docs = Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(4)))
    assert(out(0) === ((1L, 1.0, true)))
    assert(out(1) === ((2L, 1.0, true)))
    assert(out(2) === ((3L, 0.0, false)))
  }

  // ---- exactSubstrSpans (bounded prefix-doubling ExactSubstr) -------------

  private def esRows(docs: Seq[(Long, String)], minLen: Int) =
    Dedup.exactSubstrSpans(docs.toDF("doc_id", "text"), "doc_id", "text", minLen)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))

  test("exactSubstrSpans: cross-doc shared run yields the exact merged island") {
    // shared 4-token run "a b c d" → two overlapping dup 3-windows per doc,
    // merged into ONE island of coverage 4 (minLen=3: the d = minLen−H ≠ 0
    // composition path, H = 2)
    val out = esRows(Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "totally unrelated words without overlap")), minLen = 3)
    assert(out(0) === ((1L, 6L, 1L, 4L, 4L, Some(0.6667))))
    assert(out(1) === ((2L, 6L, 1L, 4L, 4L, Some(0.6667))))
    assert(out(2)._3 === 0L && out(2)._4 === 0L && out(2)._6 === Some(0.0))
  }

  test("exactSubstrSpans: a WITHIN-doc repeat is duplicated text too") {
    // "p q r" occurs twice inside one doc → two disjoint islands
    val out = esRows(Seq((1L, "p q r s p q r t")), minLen = 3)
    assert(out(0) === ((1L, 8L, 2L, 6L, 3L, Some(0.75))))
  }

  test("exactSubstrSpans: overlapping islands with a non-dup gap position merge") {
    // minLen=4 (power of two: the d = 0 path): doc A has dup windows at
    // pos 1 (abcd, shared with B) and pos 3 (cdef, shared with C) but NOT
    // pos 2 — intervals [1,5) and [3,7) overlap, so ONE island of 6
    val out = esRows(Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d zq zr zs"),
      (3L, "c d e f yq yr ys")), minLen = 4)
    assert(out(0) === ((1L, 8L, 1L, 6L, 6L, Some(0.75))))
    assert(out(1) === ((2L, 7L, 1L, 4L, 4L, Some(0.5714))))
    assert(out(2) === ((3L, 7L, 1L, 4L, 4L, Some(0.5714))))
  }

  test("exactSubstrSpans: doc-end boundary — shares shorter than minLen never flag") {
    // docs share only a 3-token suffix; minLen=4 windows can't reach it
    val out = esRows(Seq(
      (1L, "one two alpha beta gamma"),
      (2L, "six ten alpha beta gamma")), minLen = 4)
    assert(out.forall(r => r._3 == 0L && r._4 == 0L))
    // and a doc shorter than minLen hosts no window at all, even if equal
    val short = esRows(Seq((1L, "tiny twin"), (2L, "tiny twin")), minLen = 4)
    assert(short.forall(r => r._3 == 0L && r._6 === Some(0.0)))
  }

  test("exactSubstrSpans: zero-token doc gets NULL dup_frac") {
    val out = esRows(Seq((1L, "   "), (2L, "real words here")), minLen = 3)
    assert(out(0) === ((1L, 0L, 0L, 0L, 0L, None)))
  }

  /** Independent reference: plain-Scala L-gram counting + interval union
    * (no Spark, no ranks) — the doubling machinery must agree exactly. */
  private def refExactSubstr(docs: Seq[(Long, String)], l: Int)
  : Map[Long, (Long, Long, Long, Long, Option[Double])] = {
    val pat = TextAnalysis.TokenPattern.r
    val tok = docs.map { case (id, t) => id -> pat.findAllIn(t).toVector }.toMap
    val grams = for {
      (id, ts) <- tok.toSeq
      i <- 0 to ts.length - l
    } yield (id, (i + 1).toLong, ts.slice(i, i + l))
    val counts = grams.groupBy(_._3).map { case (g, v) => g -> v.size }
    val dup = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).map { case (id, v) => id -> v.map(_._2).sorted }
    docs.map { case (id, _) =>
      val n = tok(id).length.toLong
      var islands = List.empty[(Long, Long)]
      for (p <- dup.getOrElse(id, Seq.empty)) islands match {
        case (s, e) :: rest if p <= e => islands = (s, math.max(e, p + l)) :: rest
        case _ => islands = (p, p + l) :: islands
      }
      val covs = islands.map { case (s, e) => e - s }
      val frac =
        if (n == 0) None
        else Some(math.floor(covs.sum.toDouble / n * 10000 + 0.5) / 10000)
      id -> ((n, islands.size.toLong, covs.sum,
        if (covs.isEmpty) 0L else covs.max, frac))
    }.toMap
  }

  test("exactSubstrSpans ≡ brute-force L-gram reference on random corpora") {
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("aa", "bb", "cc", "dd")
    for (l <- Seq(1, 2, 3, 4, 5, 8)) {
      val docs = (1L to 18L).map { id =>
        val len = rnd.nextInt(31)
        id -> Vector.fill(len)(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      val exp = refExactSubstr(docs, l)
      val got = esRows(docs, l)
      assert(got.length === docs.length)
      got.foreach { case (id, n, ni, dt, ls, fr) =>
        assert(exp(id) === ((n, ni, dt, ls, fr)), s"minLen=$l doc=$id")
      }
      // sanity: a 4-symbol alphabet at these lengths must produce SOME dups
      if (l <= 4) assert(got.exists(_._3 > 0), s"degenerate corpus at minLen=$l")
    }
  }

  test("exactSubstrClean: duplicated spans are cut out, canonical rejoin") {
    val out = Dedup.exactSubstrClean(
      Seq((1L, "a b c d e f"),
          (2L, "x a b c d y"),
          (3L, "clean doc stays whole")).toDF("doc_id", "text"),
      "doc_id", "text", minLen = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // shared run "a b c d" → both dup 3-windows' coverage [1,5)/[2,6) removed
    assert(out(0) === ((1L, 6L, 4L, "e f")))
    assert(out(1) === ((2L, 6L, 4L, "x y")))
    assert(out(2) === ((3L, 4L, 0L, "clean doc stays whole")))
  }

  test("exactSubstrClean: within-doc repeat removes BOTH occurrences") {
    // ExactSubstr semantics: every occurrence of duplicated text goes —
    // the canonical copy is not preserved (Lee et al. §4.1 note exactly
    // this bias; downstream reconstruction is a curation choice)
    val out = Dedup.exactSubstrClean(
      Seq((1L, "p q r s p q r t")).toDF("doc_id", "text"),
      "doc_id", "text", minLen = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((8L, 6L, "s t")))
  }

  test("exactSubstrClean: zero-token and all-dup docs") {
    val out = Dedup.exactSubstrClean(
      Seq((1L, "   "), (2L, "wa wb wc"), (3L, "wa wb wc"))
        .toDF("doc_id", "text"), "doc_id", "text", minLen = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((1L, 0L, 0L, "")))
    assert(out(1) === ((2L, 3L, 3L, "")))
    assert(out(2) === ((3L, 3L, 3L, "")))
  }

  test("exactSubstrClean ≡ reference coverage on random corpora") {
    val rnd = new scala.util.Random(23)
    val alphabet = Vector("aa", "bb", "cc", "dd", "ee")
    for (l <- Seq(3, 4)) {
      val docs = (1L to 12L).map { id =>
        id -> Vector.fill(rnd.nextInt(25))(
          alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
      }
      // reference: brute-force dup L-gram starts → coverage → kept tokens
      val pat = TextAnalysis.TokenPattern.r
      val tok = docs.map { case (id, t) => id -> pat.findAllIn(t).toVector }.toMap
      val grams = for {
        (id, ts) <- tok.toSeq; i <- 0 to ts.length - l
      } yield (id, i, ts.slice(i, i + l))
      val counts = grams.groupBy(_._3).map { case (g, v) => g -> v.size }
      val dup = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).map { case (id, v) => id -> v.map(_._2).toSet }
      val exp = docs.map { case (id, _) =>
        val ts = tok(id)
        val covered = (0 until ts.length).filter { t =>
          dup.getOrElse(id, Set.empty).exists(s => s <= t && t < s + l)
        }.toSet
        val keptToks = ts.indices.filterNot(covered).map(ts)
        id -> ((ts.length.toLong, covered.size.toLong, keptToks.mkString(" ")))
      }.toMap
      val got = Dedup.exactSubstrClean(
        docs.toDF("doc_id", "text"), "doc_id", "text", minLen = l)
        .orderBy($"doc_id").collect()
      got.foreach { r =>
        val id = r.getLong(0)
        assert((r.getLong(1), r.getLong(2), r.getString(3)) === exp(id),
          s"minLen=$l doc=$id")
      }
    }
  }

  test("exactSubstrSpans: the dense-rank compaction branch agrees too") {
    // 18 symbols, minLen = 32: pack bounds square 18 → 361 → 1.3e5 → 1.7e10,
    // overflowing the 3e9 pack limit at the w=16 round — the dense-rank
    // fallback (the 100 TB path) must produce identical classes
    val rnd = new scala.util.Random(13)
    val alphabet = (1 to 18).map(i => "s" + ("abcdefghijklmnopqr" (i - 1)))
    val shared = Vector.fill(40)(alphabet(rnd.nextInt(alphabet.size)))
    val docs = (1L to 6L).map { id =>
      val own = Vector.fill(20 + rnd.nextInt(20))(
        alphabet(rnd.nextInt(alphabet.size)))
      // half the docs embed the shared 40-token run → real ≥32 dup spans
      val toks = if (id % 2 == 0) own ++ shared else own
      id -> toks.mkString(" ")
    }
    val exp = refExactSubstr(docs, 32)
    val got = esRows(docs, minLen = 32)
    got.foreach { case (id, n, ni, dt, ls, fr) =>
      assert(exp(id) === ((n, ni, dt, ls, fr)), s"doc=$id")
    }
    assert(got.count(_._3 > 0) === 3) // exactly the shared-run docs flag
  }

  test("signature artifact: delta-vs-artifact == incremental on the union, two nights") {
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] = {
      val s = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      df.unpersist(); s
    }
    val dir = java.nio.file.Files.createTempDirectory("lsh_artifact").toString
    val base = docs.filter($"doc_id" % 4 =!= 0) // 1,2,3,5
    val night1 = docs.filter($"doc_id" % 4 === 0) // 4 (exact dup of 1)
    Dedup.writeSignatureArtifact(base, "doc_id", "text", dir)
    val art1 = pairSet(Dedup.minhashLshPairsDelta(night1, "doc_id", "text", dir))
    val incr1 = pairSet(Dedup.minhashLshPairsIncremental(
      docs, "doc_id", "text", $"doc_id" % 4 === 0))
    assert(art1 === incr1 && art1.nonEmpty)
    // night 2: fold night 1 into the artifact, dedupe a fresh delta that
    // near-dups BOTH a base doc and a night-1 doc
    Dedup.appendToSignatureArtifact(night1, "doc_id", "text", dir)
    val night2 = Seq(
      (6L, "the quick brown fox jumps over the lazy dog", "en"), // dup of 1 AND 4
      (7L, "totally novel content never seen anywhere", "en"))
      .toDF("doc_id", "text", "lang")
    val art2 = pairSet(Dedup.minhashLshPairsDelta(night2, "doc_id", "text", dir))
    val incr2 = pairSet(Dedup.minhashLshPairsIncremental(
      docs.unionByName(night2), "doc_id", "text", $"doc_id" >= 6))
    assert(art2 === incr2)
    assert(art2.contains((1L, 6L, 1.0)) && art2.contains((4L, 6L, 1.0)))
    assert(!art2.exists { case (a, b, _) => a == 7L || b == 7L })
  }

  test("pickVerifyHint: healthy builds stay SHJ, pathological flip to merge") {
    val budget = 512L << 20
    // healthy LSH-pruned regime: ~2M pairs, 40-shingle docs, 32 parts →
    // 920 B/row × 2M / 32 ≈ 58 MB/partition — comfortably SHJ
    assert(Dedup.pickVerifyHint(2e6, 40, 32, budget) === "shuffle_hash")
    // ~20M pairs on only 32 partitions is already ~575 MB of unspillable
    // build per task — the rule correctly prefers the spillable strategy
    assert(Dedup.pickVerifyHint(2e7, 40, 32, budget) === "merge")
    // the r12 failure regime: pair bound in the hundreds of millions with
    // ~100-shingle docs → multi-GB per partition → spillable merge
    assert(Dedup.pickVerifyHint(5e8, 100, 32, budget) === "merge")
    // monotone in every knob: more partitions or budget restores SHJ
    assert(Dedup.pickVerifyHint(5e8, 100, 4096, budget) === "shuffle_hash")
    assert(Dedup.pickVerifyHint(5e8, 100, 32, 1L << 40) === "shuffle_hash")
    // degenerate inputs never divide by zero / flip on empties
    assert(Dedup.pickVerifyHint(0.0, 0.0, 0, 1L) === "shuffle_hash")
  }

  test("shjBuildBudget: local derivation is sane") {
    val b = Dedup.shjBuildBudget(spark)
    assert(b >= (64L << 20)) // floor keeps undersized JVMs on SHJ for tests
    // never anywhere near the whole heap: the derivation divides by slots
    // and the growth-doubling factor
    assert(b < Runtime.getRuntime.maxMemory / 2)
  }

  test("verifyHintFor: auto reads the bucket histogram against the build budget") {
    val banded = Seq((0, 7L), (0, 7L), (0, 7L), (1, 9L))
      .toDF("band", "band_hash") // one 3-bucket → 3 candidate pairs
    val prepared = Seq((1L, Seq("abc", "bcd", "cde")))
      .toDF("doc_id", "sh")
    assert(Dedup.verifyHintFor(banded, prepared) === "shuffle_hash")
    // a 1-byte budget makes ANY nonzero pair bound exceed it
    assert(Dedup.verifyHintFor(banded, prepared, Some(1L)) === "merge")
    // delta-aware bound: zero delta rows → zero probe-side candidates →
    // SHJ even under the 1-byte budget (the nightly-delta guarantee)
    val noDelta = banded.withColumn("__delta", lit(0))
    assert(Dedup.verifyHintFor(noDelta, prepared, Some(1L)) === "shuffle_hash")
    val oneDelta = Seq((0, 7L, 1), (0, 7L, 0), (0, 7L, 0), (1, 9L, 0))
      .toDF("band", "band_hash", "__delta") // Σ d·(c−1) = 2 > 0 → merge
    assert(Dedup.verifyHintFor(oneDelta, prepared, Some(1L)) === "merge")
  }

  test("minhashLshPairs results are strategy-invariant (auto-merge == SHJ)") {
    // an unbounded budget keeps auto on SHJ; a 1-byte budget flips it to merge
    def run(budget: Long): Set[(Long, Long, Double)] =
      Dedup.minhashLshPairs(docs, "doc_id", "text", 32, 8, 0.6, Some(budget)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val shj = run(Long.MaxValue)
    assert(Dedup.lastAutoVerify.map(_._1) === Some("shuffle_hash"))
    val merge = run(1L)
    assert(Dedup.lastAutoVerify.map(_._1) === Some("merge"))
    assert(merge === shj && shj.nonEmpty)
  }
}
