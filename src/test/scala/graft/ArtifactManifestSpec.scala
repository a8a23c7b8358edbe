package graft

import org.apache.spark.sql.functions._

import graft.operators.ArtifactManifest

/** Pins the input-fingerprint provenance contract (VERDICT r12 #5): a
  * persisted artifact serves ONLY the corpus it was trained on — the
  * manifest check must pass on the identical corpus regardless of row
  * order/partitioning, and throw on any content drift (changed row,
  * missing row, duplicated row). */
class ArtifactManifestSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  private val cols = Seq(col("doc_id"), col("text"))
  private val train = Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma")

  private def freshArtifact(): String = {
    val dir = java.nio.file.Files.createTempDirectory("manifest_spec").toString
    ArtifactManifest.write(dir, corpus(train), cols)
    dir
  }

  test("check passes on the training corpus, in any row order or partitioning") {
    val dir = freshArtifact()
    ArtifactManifest.check(dir, corpus(train), cols)
    ArtifactManifest.check(dir, corpus(train.reverse).repartition(3), cols)
  }

  test("check throws on content drift: changed, missing, and duplicated rows") {
    val dir = freshArtifact()
    val changed = Seq(1L -> "alpha", 2L -> "BETA", 3L -> "gamma")
    val missing = train.take(2)
    val duplicated = train :+ (3L -> "gamma")
    for (bad <- Seq(changed, missing, duplicated)) {
      val e = intercept[IllegalArgumentException] {
        ArtifactManifest.check(dir, corpus(bad), cols)
      }
      assert(e.getMessage.contains("was not trained on this corpus"))
    }
  }

  test("additive fold == full rescan, across random splits of the corpus (r15 #1)") {
    // the O(batch) streaming fold must be EXACT: write the manifest over a
    // base split, add the remaining splits batch by batch, and the result
    // must check against a full recompute over the whole corpus — for
    // several different split geometries (the fingerprint is an additive
    // multiset sum, so ANY disjoint split folds to the same value)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (seed <- Seq(3, 7, 11)) {
      val bucket = pmod(xxhash64(col("doc_id"), lit(seed)), lit(3))
      val dir = java.nio.file.Files.createTempDirectory(s"manifest_add_$seed").toString
      ArtifactManifest.write(dir, docs.filter(bucket === 0), cols)
      assert(ArtifactManifest.add(dir, docs.filter(bucket === 1), cols, 0L))
      assert(ArtifactManifest.add(dir, docs.filter(bucket === 2), cols, 1L))
      ArtifactManifest.check(dir, docs, cols) // folded == rescanned
    }
  }

  test("add refuses to fold the same micro-batch twice (at-least-once replay guard)") {
    val dir = freshArtifact()
    val batch = corpus(Seq(10L -> "delta"))
    assert(ArtifactManifest.add(dir, batch, cols, foldBatchId = 7L))
    val after = ArtifactManifest.read(dir, spark).get
    assert(after.foldBatch === Some(7L))
    // re-delivery of batch 7: a no-op, manifest unchanged
    assert(!ArtifactManifest.add(dir, batch, cols, foldBatchId = 7L))
    assert(ArtifactManifest.read(dir, spark).get === after)
    // the next batch folds normally
    assert(ArtifactManifest.add(dir, corpus(Seq(11L -> "next")), cols, 8L))
    ArtifactManifest.check(dir,
      corpus(train ++ Seq(10L -> "delta", 11L -> "next")), cols)
  }

  test("check refuses an artifact with no manifest") {
    val dir = java.nio.file.Files.createTempDirectory("manifest_spec").toString
    val e = intercept[IllegalArgumentException] {
      ArtifactManifest.check(dir, corpus(train), cols)
    }
    assert(e.getMessage.contains("no input manifest"))
  }

  test("manifest I/O works against a file:-URI (non-local-form) path — no raw-FS assumption") {
    // VERDICT r13 #2: the sidecar must travel through Hadoop FileSystem so
    // HDFS/S3 artifact dirs work; a file: URI is the local stand-in that
    // java.nio.file.Paths.get would CHOKE on (it has a scheme), so passing
    // here proves the resolution goes through the Hadoop layer.
    val raw = java.nio.file.Files.createTempDirectory("manifest_uri").toString
    val uri = "file://" + raw
    ArtifactManifest.write(uri, corpus(train), cols)
    ArtifactManifest.check(uri, corpus(train.reverse).repartition(2), cols)
    assert(new java.io.File(raw, "_input_manifest.json").isFile)
    val e = intercept[IllegalArgumentException] {
      ArtifactManifest.check(uri, corpus(train.take(1)), cols)
    }
    assert(e.getMessage.contains("was not trained on this corpus"))
  }

  test("all four persisted-artifact lifecycles round-trip through a file:-URI dir") {
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def uriDir(tag: String) =
      "file://" + java.nio.file.Files.createTempDirectory(tag).toString

    // LSH signature artifact: build on a subset, delta-dedup the rest
    val lsh = uriDir("uri_lsh")
    Dedup.writeSignatureArtifact(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", lsh)
    val pairs = Dedup.minhashLshPairsDelta(
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", lsh)
    assert(pairs.columns.contains("doc_id_a")) // materializes below
    pairs.count() // force the read path through the URI

    // IVF-PQ index: build + manifest + search
    val ivf = uriDir("uri_ivf")
    Similarity.writeIvfPqIndex(emb, ivf)
    ArtifactManifest.write(ivf, emb, Seq(col("vec_id"), col("embedding")))
    ArtifactManifest.check(ivf, emb, Seq(col("vec_id"), col("embedding")))
    assert(Similarity.ivfPqSearchIndex(ivf, emb.limit(2), k = 3).count() > 0)

    // BPE vocab: train + tokenize-with-vocab
    val bpe = uriDir("uri_bpe")
    TextAnalysis.writeBpeVocab(docs, "doc_id", "text", rounds = 2, bpe)
    assert(TextAnalysis.bpeTokenizeWithVocab(docs.limit(5), "doc_id", "text", bpe)
      .count() > 0)

    // quality model: train + score-with-model
    val qm = uriDir("uri_qm")
    TextAnalysis.writeQualityModel(docs, "doc_id", "text", qm)
    assert(TextAnalysis.perceptronScoreWithModel(docs.limit(5), "doc_id", "text", qm)
      .count() > 0)
  }

  test("the gated consumers serve from the persisted artifact: q_tokenize_artifact output is unchanged by memo reuse") {
    // two invocations share ONE build (the path memo): outputs identical
    val dir = "/root/testdata/sf0.001"
    def tokens() = ArtifactManifest.fingerprintOf(
      SparkEntry.queries("q_tokenize_artifact")(spark, dir),
      Seq(col("doc_id"), col("word_idx"), col("token_idx"), col("token")))
    val a = tokens()
    val art = QueryShared.bpeVocabArtifact(spark, dir)
    val b = tokens()
    assert(a === b)
    assert(QueryShared.bpeVocabArtifact(spark, dir) === art)
  }
}
