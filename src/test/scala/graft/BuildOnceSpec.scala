package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.ArtifactManifest
import graft.sources.Crm

/** The build-once memo ([[BuildOnce]]) behind Warehouse.build and the
  * shared artifacts: a value is rebuilt when a stored table under its
  * directory is rewritten in place, and otherwise served again with no
  * Spark job. Each spec works on its own copy of sf0.001 and its own
  * session, so it builds from scratch. */
class BuildOnceSpec extends SparkSpec {

  private val sf0001 = "/root/testdata/sf0.001"

  private def copyOfSf0001(): String = {
    val d = Files.createTempDirectory("build_once")
    new File(sf0001).listFiles().foreach(f => Files.copy(f.toPath, d.resolve(f.getName)))
    d.toString
  }

  /** Replace `dir`'s single-file table `t` with `keep` of sf0.001's rows. */
  private def rewrite(dir: String, t: String)(keep: DataFrame => DataFrame): Unit = {
    val out = Files.createTempDirectory("build_once_rewrite").resolve(t).toString
    keep(Crm.table(spark, sf0001, t)).coalesce(1).write.parquet(out)
    val part = new File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Row count and order-free fingerprint, without the current-date stamps. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.filterNot(Set("data_carga", "data_cadastro")).map(col).toSeq
    ArtifactManifest.fingerprintOf(df, cols)
  }

  /** `f`'s value, and the ids of the Spark jobs `f` ran on this thread. */
  private def withJobs[T](s: SparkSession, tag: String)(f: => T): (T, Seq[Int]) = {
    val sc = s.sparkContext
    val group = s"build-once-spec-$tag"
    sc.setJobGroup(group, tag)
    val v = try f finally sc.clearJobGroup()
    (v, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  test("rewriting orders.parquet in place rebuilds Warehouse.build in the same session") {
    val dir = copyOfSf0001()
    val s = spark.newSession()
    val before = fingerprint(Warehouse.build(s, dir).fatoVendas)
    rewrite(dir, "orders")(_.filter(col("o_orderkey") % 2 === 0))
    val after = fingerprint(Warehouse.build(s, dir).fatoVendas)
    assert(after !== before, "the same session served the build over the old orders")
    assert(after === fingerprint(Warehouse.build(spark.newSession(), dir).fatoVendas))
    assert(after._1 < before._1)
  }

  test("rewriting documents.parquet retrains the BPE vocab, whose manifest then checks") {
    val dir = copyOfSf0001()
    val s = spark.newSession()
    val first = QueryShared.bpeVocabArtifact(s, dir)
    assert(new File(first).isDirectory)
    rewrite(dir, "documents")(_.filter(col("doc_id") % 2 === 0))
    val second = QueryShared.bpeVocabArtifact(s, dir)
    assert(second !== first)
    assert(!new File(first).exists, "the superseded vocab directory was left on disk")
    ArtifactManifest.check(second, Crm.table(s, dir, "documents"), Seq(col("doc_id"), col("text")))
  }

  test("with dir unchanged, a second call returns the same value and runs no Spark job") {
    val dir = copyOfSf0001()
    val s = spark.newSession()
    val builds: Seq[(String, () => AnyRef)] = Seq(
      "warehouse" -> (() => Warehouse.build(s, dir)),
      "lsh_pairs" -> (() => QueryShared.lshPairs(s, dir)),
      "copurchase_pairs" -> (() => QueryShared.copurchasePairsArtifact(s, dir)),
      "fixedk_centroids" -> (() => QueryShared.fixedKCentroidsArtifact(s, dir)),
      "bpe_vocab" -> (() => QueryShared.bpeVocabArtifact(s, dir)))
    builds.foreach { case (kind, build) =>
      val first = build()
      val (again, jobs) = withJobs(s, kind)(build())
      assert(again eq first, kind)
      assert(jobs === Nil, kind)
    }
  }

  test("two threads asking for the co-purchase pairs share one frame") {
    val dir = copyOfSf0001()
    val s = spark.newSession()
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = { start.await(); QueryShared.copurchasePairsArtifact(s, dir) }
      }))
      start.countDown()
      val Seq(a, b) = calls.map(_.get(5, TimeUnit.MINUTES))
      assert(a eq b)
    } finally pool.shutdown()
  }

  test("the IVF-PQ index builds on a fresh session, training the fixed-K quantizer inside its build") {
    val s = spark.newSession()
    val idx = QueryShared.ivfPqIndexArtifact(s, sf0001)
    ArtifactManifest.check(idx, Crm.table(s, sf0001, "embeddings"),
      Seq(col("vec_id"), col("embedding")))
    val (again, jobs) = withJobs(s, "ivfpq_index")(QueryShared.ivfPqIndexArtifact(s, sf0001))
    assert(again === idx)
    assert(jobs === Nil)
    val (_, trainJobs) = withJobs(s, "fixedk_centroids")(QueryShared.fixedKCentroidsArtifact(s, sf0001))
    assert(trainJobs === Nil, "the index build left the quantizer built for this session")
  }
}
