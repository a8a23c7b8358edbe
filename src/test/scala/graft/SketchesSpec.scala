package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("hll estimate lands near the exact count and is partitioning-invariant") {
    val items = (1 to 20000).map(i => ("g", s"item$i")) ++
      (1 to 300).map(i => ("h", s"thing${i % 150}"))
    val df = items.toDF("grp", "it")
    val out = Sketches.hllDistinct(df, $"grp", $"it")
      .orderBy($"grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val (gGrp, gExact, gEst, _) = out(0)
    assert(gGrp === "g" && gExact === 20000L)
    // m=64 → standard error 1.04/√64 = 13%; allow ~2.5σ
    assert(math.abs(gEst - gExact) / gExact.toDouble < 0.33, s"est $gEst vs $gExact")
    val (hGrp, hExact, hEst, hEmpty) = out(1)
    assert(hGrp === "h" && hExact === 150L)
    assert(hEst > 0.0 && hEmpty >= 0L)
    // determinism: registers are md5-derived → estimate survives repartition
    val out13 = Sketches.hllDistinct(df.repartition(13), $"grp", $"it")
      .orderBy($"grp").collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(out13.toSeq === out.map(t => (t._1, t._3)).toSeq)
  }

  test("hll register merge: hourly registers roll up to the direct daily estimate") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val evs = (0 until 8000).map { i =>
      val day = i % 2
      val hour = i % 24
      (new java.sql.Timestamp(base.getTime + day * 86400000L + hour * 3600000L),
        (i % 1500).toLong)
    }
    val df = evs.toDF("ts", "user_id")
    val merged = Sketches.hllMergedDaily(df, $"ts", $"user_id".cast("string"))
      .orderBy($"day").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    // direct per-day estimate over the same items — must be IDENTICAL
    // (register merge by max is lossless)
    val direct = Sketches.hllDistinct(
      df.select(GraftFunctions.truncUtc("day", $"ts").as("d"), $"user_id".cast("string").as("u")),
      $"d", $"u").orderBy($"grp").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(merged.toSeq === direct.toSeq)
    merged.foreach { case (exact, est) =>
      assert(math.abs(est - exact) / exact.toDouble < 0.4, s"est $est vs $exact")
    }
  }

  test("hll sliding distinct: a window's merged estimate equals the direct union estimate") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // hour 0: users 1..50; hour 1: users 51..100 (disjoint)
    val evs = (1 to 50).map(u => (base, u.toLong)) ++
      (51 to 100).map(u =>
        (new java.sql.Timestamp(base.getTime + 3600000L), u.toLong))
    val df = evs.toDF("ts", "user_id")
    val out = Sketches.hllSlidingDistinct(df, $"ts", $"user_id".cast("string"))
      .orderBy($"hour").collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
    assert(out.length === 2)
    // window ending at hour 1 covers both hours -> must equal the direct
    // single-set estimate of the union (register merge is lossless)
    val union = Sketches.hllDistinct(
      df.select(lit("g").as("g"), $"user_id".cast("string").as("u")), $"g", $"u")
      .head().getDouble(2)
    assert(out(1)._2 === union)
    // window at hour 0 covers only hour 0 -> estimate of the 50-user set
    val h0 = Sketches.hllDistinct(
      df.filter($"user_id" <= 50).select(lit("g").as("g"),
        $"user_id".cast("string").as("u")), $"g", $"u").head().getDouble(2)
    assert(out(0)._2 === h0)
  }

  test("seasonalNaiveBacktest: day t scored against day t-7 exactly") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // day i has i+1 events of type "view", i = 0..7
    val evs = (0 until 8).flatMap(d => (0 to d).map(_ =>
      (new java.sql.Timestamp(base.getTime + d * 86400000L), "view")))
    val out = graft.operators.Events.seasonalNaiveBacktest(
      evs.toDF("ts", "event_type")).collect()
    assert(out.length === 1)
    val r = out.head
    // only day 7 has a t-7 partner: actual 8 vs forecast 1
    assert(r.getAs[Long]("n_days_scored") === 1L)
    assert(r.getAs[Double]("mae") === 7.0)
    assert(r.getAs[Long]("bias_sum") === 7L)
  }

  test("cmsJoinSizeEstimate: exact size right, sketch estimate never under-counts") {
    val a = (1 to 400).map(i => ((i % 60).toLong, "x")).toDF("k", "pad")
    val b = (1 to 300).map(i => ((i % 45).toLong, "x")).toDF("k", "pad")
    val r = Sketches.cmsJoinSizeEstimate(a, $"k", b, $"k").head()
    // brute-force expected join size
    val ca = (1 to 400).groupBy(_ % 60).map { case (k, v) => k.toLong -> v.size }
    val cb = (1 to 300).groupBy(_ % 45).map { case (k, v) => k.toLong -> v.size }
    val exact = ca.map { case (k, n) => n.toLong * cb.getOrElse(k, 0) }.sum
    assert(r.getAs[Long]("exact_join_size") === exact)
    assert(r.getAs[Long]("cms_est") >= exact, "CMS inner product under-counted")
  }

  test("hll: NULL items are not items — estimate and exact unaffected by null rows") {
    val clean = (1 to 500).map(i => ("g", s"u$i")).toDF("grp", "it")
    val dirty = clean.unionAll(Seq(("g", null.asInstanceOf[String]),
      ("g", null.asInstanceOf[String])).toDF("grp", "it"))
    val a = Sketches.hllDistinct(clean, $"grp", $"it").head()
    val b = Sketches.hllDistinct(dirty, $"grp", $"it").head()
    // without the filter the null row inflates npres (count counts it, the
    // register sum skips its null weight) — estimate biased, exact off by 1
    assert(b.getAs[Long]("exact_distinct") === a.getAs[Long]("exact_distinct"))
    assert(b.getAs[Double]("hll_est") === a.getAs[Double]("hll_est"))
    assert(b.getAs[Long]("n_empty_buckets") === a.getAs[Long]("n_empty_buckets"))
  }

  test("cmsEstimate: a never-observed probe term reports 0, not a dropped row") {
    val stream = (Seq.fill(40)("alpha") ++ Seq.fill(7)("beta")).toDF("term")
    val sketch = stream
      .select(Sketches.cmsCells($"term").as("rc"))
      .groupBy($"rc.r".as("r"), $"rc.c".as("c"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val probes = Seq("alpha", "beta", "never_seen").toDF("t")
    val out = Sketches.cmsEstimate(sketch, probes, $"t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set("alpha", "beta", "never_seen"),
      "every probe term must appear in the output")
    assert(out("alpha") >= 40L && out("beta") >= 7L, "CMS never under-counts")
    // all four of never_seen's cells may still collide with real terms, but
    // at this tiny fill rate at least one cell is empty → est 0
    assert(out("never_seen") === 0L, s"unseen term est ${out("never_seen")}")
  }

  test("cmsJoinSizeEstimate: disjoint inputs report 0/0, not NULL") {
    val a = (1 to 30).map(i => (s"a$i", "x")).toDF("k", "pad")
    val b = (1 to 20).map(i => (s"b$i", "x")).toDF("k", "pad")
    val r = Sketches.cmsJoinSizeEstimate(a, $"k", b, $"k").head()
    assert(r.getAs[Long]("exact_join_size") === 0L)
    assert(!r.isNullAt(r.fieldIndex("cms_est")), "empty-overlap min must be 0, not NULL")
    assert(r.getAs[Long]("cms_est") >= 0L)
    // and an empty side entirely
    val empty = Seq.empty[(String, String)].toDF("k", "pad")
    val r2 = Sketches.cmsJoinSizeEstimate(a, $"k", empty, $"k").head()
    assert(r2.getAs[Long]("exact_join_size") === 0L)
    assert(r2.getAs[Long]("cms_est") === 0L)
  }

  test("histogramQuantiles delegates to the grouped sketch with identical output") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = Sketches.histogramQuantiles(df, $"v", 10.0, Seq(0.5, 0.95))
      .orderBy($"p").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.length === 2)
    val (p50, n50, t50, _, e50) = out(0)
    assert(p50 === 0.5 && n50 === 100L && t50 === 50L)
    assert(math.abs(e50 - 50.0) <= 10.0, s"p50 $e50")
    assert(math.abs(out(1)._5 - 95.0) <= 10.0, s"p95 ${out(1)._5}")
  }

  test("hllIntersectEstimate: A == B estimates est_a; disjoint exact is 0") {
    val a = (1 to 500).map(i => s"u$i").toDF("it")
    val same = Sketches.hllIntersectEstimate(a, a).head()
    assert(same.getAs[Double]("est_intersect") === same.getAs[Double]("est_a"))
    assert(same.getAs[Long]("exact_intersect") === 500L)
    val b = (501 to 900).map(i => s"u$i").toDF("it")
    val disj = Sketches.hllIntersectEstimate(a, b).head()
    assert(disj.getAs[Long]("exact_intersect") === 0L)
  }

  test("histogramQuantilesByGroup: per-group estimates land within one bin") {
    val df = ((1 to 100).map(v => ("a", v.toDouble)) ++
      (1 to 50).map(v => ("b", (v * 10).toDouble))).toDF("g", "v")
    val out = Sketches.histogramQuantilesByGroup(df, $"g", $"v", 10.0, Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(math.abs(out("a") - 50.0) <= 10.0, s"a p50 ${out("a")}")
    assert(math.abs(out("b") - 250.0) <= 10.0, s"b p50 ${out("b")}")
  }

  test("bloomProbe: no false negatives ever; counts reconcile") {
    val build = (1 to 200).map(i => s"k$i").toDF("it")
    val probe = (101 to 400).map(i => s"k$i").toDF("it")
    val r = Sketches.bloomProbe(build, $"it", probe, $"it").head()
    assert(r.getAs[Long]("n_probes") === 300L)
    assert(r.getAs[Long]("n_members") === 100L)
    assert(r.getAs[Long]("n_false_neg") === 0L, "Bloom false negative")
    assert(r.getAs[Long]("n_bloom_hits") ===
      r.getAs[Long]("n_members") + r.getAs[Long]("n_false_pos"))
  }

  test("cms heavy hitters: exact counts right, estimates never under-count") {
    val multiset = Seq.fill(100)("alpha") ++ Seq.fill(50)("beta") ++
      (1 to 500).map(i => s"rare$i")
    val df = multiset.toDF("term")
    val out = Sketches.cmsHeavyHitters(df, $"term", 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 5)
    assert(out(0)._1 === "alpha" && out(0)._2 === 100L)
    assert(out(1)._1 === "beta" && out(1)._2 === 50L)
    // the CMS invariant: min over d rows only ever over-counts
    out.foreach { case (t, exact, est, over) =>
      assert(est >= exact, s"$t under-counted: $est < $exact")
      assert(over === est - exact)
    }
  }

  test("bloomReduceJoin: result is EXACTLY the semi join, under any partitioning") {
    val build = (1 to 40).filter(_ % 4 == 0).map(i => (i.toLong, s"b$i"))
      .toDF("k", "tag")
    val probe = (1 to 200).map(i => ((i % 50).toLong, i.toLong))
      .toDF("fk", "payload")
    val got = Sketches.bloomReduceJoin(build, $"k", probe, $"fk")
      .orderBy($"fk", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = probe.join(build.select($"k".as("fk")).distinct(),
        Seq("fk"), "left_semi")
      .orderBy($"fk", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty, "toy semi join must not be empty")
    // bloom has no false negatives and the final join removes false
    // positives — so even reshuffled inputs give the identical exact set
    val again = Sketches.bloomReduceJoin(
        build.repartition(7), $"k", probe.repartition(5), $"fk")
      .orderBy($"fk", $"payload").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === want.toSeq)
  }

  test("bloomReduceJoin: empty build side keeps nothing (all-zero bitmap, not a null map)") {
    val build = Seq.empty[(Long, String)].toDF("k", "tag")
    val probe = (1 to 10).map(i => (i.toLong, i.toLong)).toDF("fk", "payload")
    assert(Sketches.bloomReduceJoin(build, $"k", probe, $"fk").count() === 0L)
  }

  test("bloomReduceJoin: null keys drop on both sides, exactly like the equi semi join") {
    val build = Seq(Some(4L), None, Some(8L)).toDF("k")
    val probe = Seq((Some(4L), 1L), (None, 2L), (Some(5L), 3L), (Some(8L), 4L))
      .toDF("fk", "payload")
    val got = Sketches.bloomReduceJoin(build, $"k", probe, $"fk")
      .orderBy($"payload").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((4L, 1L), (8L, 4L)))
  }

  test("bloomReduceJoin: a probe that already carries __k/__bm columns keeps them intact") {
    // the staging names must dodge the probe schema (ADVICE r10) — the
    // user's own __k/__bm payload columns survive byte-identical
    val build = Seq(4L, 8L).toDF("k")
    val probe = Seq((4L, "keepK4", "keepBm4"), (5L, "keepK5", "keepBm5"),
        (8L, "keepK8", "keepBm8"))
      .toDF("fk", "__k", "__bm")
    val got = Sketches.bloomReduceJoin(build, $"k", probe, $"fk")
      .orderBy($"fk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq === Seq((4L, "keepK4", "keepBm4"), (8L, "keepK8", "keepBm8")))
    assert(Sketches.bloomReduceJoin(build, $"k", probe, $"fk").columns.toSeq ===
      Seq("fk", "__k", "__bm"))
  }
}
