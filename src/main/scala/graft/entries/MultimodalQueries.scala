package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Surrogate
import graft.sources.{Crm, OracleSql => O}
import QueryShared._

/** Multimodal-family query registry. */
private[graft] object MultimodalQueries extends QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §7.5 extensions: multimodal plumbing (decode stubbed) ------------
    "q_multimodal_meta" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Multimodal.decodeMeta(s, operators.Multimodal.withPayload(docs, "text"), "doc_id")
        .drop("feature").orderBy(col("doc_id"))
    }),
    "q_multimodal_resize" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Multimodal.resizeMeta(
        operators.Multimodal.decodeMeta(s, operators.Multimodal.withPayload(docs, "text"), "doc_id"))
        .select(col("doc_id"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_frames" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Multimodal.sampleFrames(
        operators.Multimodal.withPayload(docs, "text"), "doc_id", stride = 16)
        // CSV-serialized for the driver comparator; empty payloads sample a
        // null byte, kept as a literal 'null' element on both sides.
        .select(col("doc_id"),
          array_join(transform(col("sampled_bytes"),
            x => coalesce(x.cast("string"), lit("null"))), ",").as("sampled_bytes"))
        .orderBy(col("doc_id"))
    }),
    // REAL multi-frame decode: synthetic animated GIFs (closed-form palette
    // + per-frame pixel formula), per-frame exact integer channel sums via
    // the JRE's own ImageReader — the oracle recomputes every frame's sums
    // from the formula, proving the engine iterated genuinely decoded
    // frames (stride stub retired to opaque-codec payloads only).
    "q_multimodal_frames_real" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
        .filter(col("doc_id") % 11 === 0)
      operators.Multimodal.frameStats(
        s, operators.Multimodal.withSyntheticGifs(s, docs, "doc_id"), "doc_id")
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
    // REAL audio decode: RIFF/WAVE chunk walk + PCM16 sample aggregation,
    // oracle-recomputed from the synthetic generator's closed form.
    "q_multimodal_wav" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
        .filter(col("doc_id") % 7 === 0)
      operators.Multimodal.wavStats(
        s, operators.Multimodal.withSyntheticWavs(s, docs, "doc_id"), "doc_id")
        .orderBy(col("doc_id"))
    }),
    // REAL video frame-sampling: synthetic RIFF/AVI containers with
    // PNG-coded frames (lossless), demuxed by a hand-rolled chunk walker,
    // every 2nd frame genuinely decoded to exact channel sums — the oracle
    // recomputes each SAMPLED frame's sums from the closed-form pixel
    // formula, proving both the demux (true n_frames) and the decode.
    "q_multimodal_video" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
        .filter(col("doc_id") % 13 === 0)
      operators.Multimodal.aviFrameSample(
        s, operators.Multimodal.withSyntheticAvis(s, docs, "doc_id"), "doc_id",
        stride = 2)
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
    // Windowed audio analysis (VAD-style segmentation): fixed 32-sample
    // windows over genuinely decoded channel-0 PCM — exact integer energy,
    // zero-crossing and peak features per window, oracle-recomputed from
    // the synthetic generator's closed form.
    "q_audio_energy" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
        .filter(col("doc_id") % 7 === 3)
      operators.Multimodal.wavWindows(
        s, operators.Multimodal.withSyntheticWavs(s, docs, "doc_id"), "doc_id",
        winLen = 32)
        .orderBy(col("doc_id"), col("win_idx"))
    }),
    // Overlapping byte-chunk segmentation plan over the opaque payload.
    "q_multimodal_chunks" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Multimodal.chunkPlan(
        operators.Multimodal.withPayload(docs, "text"), "doc_id")
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    // REAL pixel decode, oracle-proven: deterministic synthetic PNGs whose
    // pixel formula is closed-form, so DuckDB recomputes the exact channel
    // stats javax.imageio must read back out of the encoded bytes.
    "q_multimodal_pixels" -> ((s, dir) => {
      import graft.functions.GraftFunctions.detRound
      val docs = Crm.table(s, dir, "documents")
      val meta = operators.Multimodal.decodeMeta(
        s, operators.Multimodal.withSyntheticImages(s, docs, "doc_id"), "doc_id")
      meta.select(col("doc_id"), col("format"), col("width"), col("height"),
          detRound(element_at(col("feature"), 1), 6).as("mean_r"),
          detRound(element_at(col("feature"), 2), 6).as("mean_g"),
          detRound(element_at(col("feature"), 3), 6).as("mean_b"),
          detRound(element_at(col("feature"), 4), 6).as("mean_luma"),
          detRound(element_at(col("feature"), 5), 6).as("min_luma"),
          detRound(element_at(col("feature"), 6), 6).as("max_luma"),
          detRound(element_at(col("feature"), 7), 6).as("frac_dark"))
        .orderBy(col("doc_id"))
    }),
    // Perceptual-hash image near-dup: REAL pixel decode → 64-bit dHash over
    // a 9×8 integer-point-sampled luma grid, equal-hash groups marked
    // lower-id-wins. The oracle recomputes the hash from the synthetic-PNG
    // pixel formula (no codec in DuckDB), so a green gate proves the
    // engine's hash was computed from genuinely decoded pixels.
    "q_multimodal_phash" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      val hashed = operators.Multimodal.phashMeta(
        s, operators.Multimodal.withSyntheticImages(s, docs, "doc_id"), "doc_id")
      val w = Window.partitionBy(col("phash_hi"), col("phash_lo"))
      // undecodable payloads (null hash) must NOT be marked as duplicates
      // of each other — "no feature" is not "same image" (the Multimodal
      // null contract): their keep stays NULL, never a fabricated verdict
      hashed.withColumn("keep",
          when(col("phash_hi").isNull, lit(null).cast("boolean"))
            .otherwise(col("doc_id") === min(col("doc_id")).over(w)))
        .select(col("doc_id"), col("width"), col("height"),
          col("phash_hi"), col("phash_lo"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    // NEAR-dup images at Hamming ≤ 3 over the dHash: pigeonhole 16-bit
    // chunk blocking + popcount verify — the image twin of q_dedup_simhash.
    "q_multimodal_phash_near" -> ((s, dir) => {
      val docs = Crm.table(s, dir, "documents")
      operators.Multimodal.phashNearDupPairs(
        operators.Multimodal.phashMeta(
          s, operators.Multimodal.withSyntheticImages(s, docs, "doc_id"), "doc_id"))
        .orderBy(col("doc_id_a"), col("doc_id_b"))
    }),
    // Incremental fact load: the SAME fact dataflow run as a stream-static
    // join over the streamed sale headers — result equals the batch fact
    // minus the surrogate key, so it shares q_fato_vendas' oracle.
    "q_stream_fato" -> ((s, dir) => {
      import graft.functions.GraftFunctions.detRound
      val w = Warehouse.build(s, dir)
      streaming.FactStream.incrementalFact(s, dir, w.dimTempo, w.dimCliente,
        w.dimProduto, w.dimVendedor, w.dimLoja, "q_stream_fato_sink")
        .select(
          col("id_venda"), col("id_produto"),
          col("sk_tempo"), col("sk_cliente"), col("sk_produto"), col("sk_vendedor"), col("sk_loja"),
          col("quantidade_vendida"), col("preco_unitario_venda"), col("valor_total_item"),
          col("percentual_desconto"), col("valor_desconto"), col("valor_final"),
          detRound(col("custo_unitario"), 4).as("custo_unitario"),
          detRound(col("custo_total_item"), 4).as("custo_total_item"),
          detRound(col("lucro_bruto"), 4).as("lucro_bruto"))
        .orderBy(col("id_venda"), col("id_produto"))
    }),
    // int8 embedding quantization (max-abs scaling) — exploded to
    // (vec_id, pos, qval) rows, integer-exact across engines.
    "q_embed_quantize" -> ((s, dir) => {
      val emb = Crm.table(s, dir, "embeddings")
      val maxabs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      emb.select(col("vec_id"), maxabs.as("__m"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          when(col("__m") === 0.0, lit(0L))
            .otherwise(floor(col("col").cast("double") * 127.0 / col("__m") + 0.5))
            .cast("long").as("qval"))
        .orderBy(col("vec_id"), col("pos"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_multimodal_meta" -> {
      // First *UTF-8 byte* (not first code point — ascii() would diverge on
      // non-ASCII-leading text) mirrors stubDecode's bytes(0) semantics.
      val n = "octet_length(encode(text))"
      val b0 = O.byteAtSql("hex(encode(text))", "1")
      s"""SELECT doc_id,
        | CAST($n AS BIGINT) AS n_bytes,
        | CASE (CASE WHEN $n = 0 THEN 0 ELSE $b0 END) % 3
        |   WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
        | CAST(64 + $n % 512 AS INTEGER) AS width,
        | CAST(64 + ($n * 7) % 512 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_multimodal_resize" -> {
      val n = "octet_length(encode(text))"
      s"""WITH m AS (SELECT doc_id,
        |        CAST(64 + $n % 512 AS INTEGER) AS width,
        |        CAST(64 + ($n * 7) % 512 AS INTEGER) AS height
        |      FROM documents)
        |SELECT doc_id, width, height,
        | CAST(CASE WHEN greatest(width, height) <= 224 THEN width
        |      ELSE width * 224 // greatest(width, height) END AS INTEGER) AS out_width,
        | CAST(CASE WHEN greatest(width, height) <= 224 THEN height
        |      ELSE height * 224 // greatest(width, height) END AS INTEGER) AS out_height
        |FROM m ORDER BY doc_id""".stripMargin
    },
    "q_multimodal_frames" -> {
      val h = "hex(encode(text))"
      s"""SELECT doc_id,
        | array_to_string(list_transform(range(1, greatest(octet_length(encode(text)), 1) + 1, 16),
        |   i -> coalesce(CAST(${O.byteAtSql(h, "i")} AS INTEGER)::VARCHAR, 'null')), ',') AS sampled_bytes
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_multimodal_frames_real" -> {
      // Recompute every frame's channel sums from Multimodal.syntheticGif's
      // closed-form palette + index formula — all-integer, so the compare
      // is exact with no rounding convention needed.
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 11 = 0),
        |g AS (SELECT doc_id, CAST(8 + doc_id % 5 AS INTEGER) AS w,
        |        CAST(8 + (doc_id * 3) % 5 AS INTEGER) AS h,
        |        CAST(2 + doc_id % 3 AS INTEGER) AS nf FROM d),
        |fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM g),
        |px AS (SELECT doc_id, w, h, nf, f,
        |        (31 * (i % w) + 17 * (i // w) + 53 * f + doc_id) % 256 AS idx
        |      FROM (SELECT doc_id, w, h, nf, f,
        |              unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM fr)),
        |v AS (SELECT doc_id, w, h, nf, f,
        |        (7 * idx) % 256 AS r, (13 * idx + 5) % 256 AS g,
        |        (29 * idx + 11) % 256 AS b
        |      FROM px)
        |SELECT doc_id, nf AS n_frames, CAST(f AS INTEGER) AS frame_idx,
        |  w AS width, h AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM v GROUP BY 1, 2, 3, 4, 5
        |ORDER BY doc_id, frame_idx""".stripMargin
    },
    "q_multimodal_video" -> {
      // Recompute every SAMPLED frame's channel sums from
      // Multimodal.syntheticAvi's closed-form pixel formula (the GIF
      // formula with nf = 4 + id%5 and a stride-2 frame filter) —
      // all-integer, exact compare. n_frames is the full demuxed count;
      // only even frame_idx rows exist (the sampling contract).
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 13 = 0),
        |g AS (SELECT doc_id, CAST(8 + doc_id % 5 AS INTEGER) AS w,
        |        CAST(8 + (doc_id * 3) % 5 AS INTEGER) AS h,
        |        CAST(4 + doc_id % 5 AS INTEGER) AS nf FROM d),
        |fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM g
        |       WHERE true),
        |sf AS (SELECT * FROM fr WHERE f % 2 = 0),
        |px AS (SELECT doc_id, w, h, nf, f,
        |        (31 * (i % w) + 17 * (i // w) + 53 * f + doc_id) % 256 AS idx
        |      FROM (SELECT doc_id, w, h, nf, f,
        |              unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM sf)),
        |v AS (SELECT doc_id, w, h, nf, f,
        |        (7 * idx) % 256 AS r, (13 * idx + 5) % 256 AS g,
        |        (29 * idx + 11) % 256 AS b
        |      FROM px)
        |SELECT doc_id, nf AS n_frames, CAST(f AS INTEGER) AS frame_idx,
        |  w AS width, h AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b
        |FROM v GROUP BY 1, 2, 3, 4, 5
        |ORDER BY doc_id, frame_idx""".stripMargin
    },
    "q_multimodal_pixels" -> {
      // Recompute the synthetic-PNG channel stats from the generating
      // formula (Multimodal.syntheticPng). Literals are cast to DOUBLE so
      // DuckDB uses the same IEEE ops as the Scala decoder (its bare
      // decimal literals would otherwise do DECIMAL arithmetic); sums are
      // exact integers, so every mean is a single identical division.
      val luma = "(0.299::DOUBLE * r + 0.587::DOUBLE * g + 0.114::DOUBLE * b)"
      def dr(e: String) = O.detRoundSql(e, 6)
      s"""WITH p AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
        |                  CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(range(0, CAST(w AS BIGINT) * h)) AS i FROM p),
        |v AS (SELECT doc_id, w, h,
        |        (31 * (i % w) + 17 * (i // w) + doc_id) % 256 AS r,
        |        (7 * (i % w) + 13 * (i // w) + 2 * doc_id) % 256 AS g,
        |        (3 * (i % w) + 29 * (i // w) + 5 * doc_id) % 256 AS b
        |      FROM px),
        |a AS (SELECT doc_id, w, h, count(*) AS n,
        |        sum(r) AS sr, sum(g) AS sg, sum(b) AS sb,
        |        min($luma) AS minl, max($luma) AS maxl,
        |        sum(CASE WHEN $luma < 128.0 THEN 1 ELSE 0 END) AS dark
        |      FROM v GROUP BY 1, 2, 3)
        |SELECT doc_id, 'png' AS format, w AS width, h AS height,
        |  ${dr("sr::DOUBLE / n")} AS mean_r,
        |  ${dr("sg::DOUBLE / n")} AS mean_g,
        |  ${dr("sb::DOUBLE / n")} AS mean_b,
        |  ${dr("(0.299::DOUBLE * sr + 0.587::DOUBLE * sg + 0.114::DOUBLE * sb) / n")} AS mean_luma,
        |  ${dr("minl")} AS min_luma,
        |  ${dr("maxl")} AS max_luma,
        |  ${dr("dark::DOUBLE / n")} AS frac_dark
        |FROM a ORDER BY doc_id""".stripMargin
    },
    "q_multimodal_phash" -> {
      s"""WITH $phashCtesSql
        |SELECT h.doc_id, CAST(p.w AS INTEGER) AS width, CAST(p.h AS INTEGER) AS height,
        |  phash_hi, phash_lo,
        |  (h.doc_id = min(h.doc_id) OVER (PARTITION BY phash_hi, phash_lo)) AS keep
        |FROM hsh h JOIN p ON h.doc_id = p.doc_id
        |ORDER BY h.doc_id""".stripMargin
    },
    "q_multimodal_phash_near" -> {
      // mirror of Multimodal.phashNearDupPairs: 4x16-bit chunk pigeonhole
      // candidates + popcount-verified Hamming over the formula-recomputed
      // dHash halves
      s"""WITH $phashCtesSql,
        |chunked AS (SELECT doc_id, phash_hi, phash_lo, c,
        |        CASE c WHEN 0 THEN phash_lo & 65535
        |               WHEN 1 THEN (phash_lo >> 16) & 65535
        |               WHEN 2 THEN phash_hi & 65535
        |               ELSE (phash_hi >> 16) & 65535 END AS cv
        |      FROM hsh, range(0, 4) tc(c)),
        |cand AS (SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
        |        l.phash_hi AS hi_a, l.phash_lo AS lo_a,
        |        r.phash_hi AS hi_b, r.phash_lo AS lo_b
        |      FROM chunked l JOIN chunked r
        |        ON l.c = r.c AND l.cv = r.cv AND l.doc_id < r.doc_id)
        |SELECT doc_id_a, doc_id_b,
        |  CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
        |ORDER BY doc_id_a, doc_id_b""".stripMargin
    },
    "q_multimodal_wav" ->
      // Recompute every per-channel PCM aggregate from syntheticWav's
      // closed-form sample formula — all-integer, exact compare.
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
        |g AS (SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n,
        |        CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |        CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate
        |      FROM d),
        |s AS (SELECT doc_id, n, ch, sample_rate,
        |        CAST((doc_id * 31 + i * 7) % 65536 - 32768 AS BIGINT) AS v0,
        |        CAST((doc_id * 31 + i * 7 + 13) % 65536 - 32768 AS BIGINT) AS v1
        |      FROM g, unnest(range(0, n)) u(i)),
        |a AS (SELECT doc_id, any_value(sample_rate) AS sample_rate,
        |        any_value(ch) AS ch, any_value(n) AS n,
        |        sum(v0) AS s0, min(v0) AS mn0, max(v0) AS mx0, sum(v1) AS s1
        |      FROM s GROUP BY 1)
        |SELECT doc_id, sample_rate, ch AS n_channels,
        |  CAST(16 AS INTEGER) AS bits, n AS n_frames,
        |  CAST(s0 AS BIGINT) AS sum_ch0, CAST(mn0 AS INTEGER) AS min_ch0,
        |  CAST(mx0 AS INTEGER) AS max_ch0,
        |  CASE WHEN ch > 1 THEN CAST(s1 AS BIGINT) END AS sum_ch1
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_audio_energy" -> audioEnergyOracle,
    "q_multimodal_chunks" -> {
      val h = "hex(payload)"
      s"""WITH d AS (SELECT doc_id, encode(text) AS payload,
        |             CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes
        |           FROM documents),
        |c AS (SELECT doc_id, n_bytes, payload,
        |        unnest(range(0, greatest((n_bytes - 1) // 192, 0) + 1)) AS chunk_idx
        |      FROM d)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 192 AS BIGINT) AS offset,
        |  CAST(least(256, n_bytes - chunk_idx * 192) AS BIGINT) AS chunk_bytes,
        |  CAST(${O.byteAtSql(h, "(chunk_idx * 192 + 1)")} AS INTEGER) AS first_byte
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    },
    // identical result contract to the batch fact build (no sk compared)
    "q_stream_fato" -> O.withDw(O.fatoVendasSelect),
    "q_embed_quantize" ->
      s"""WITH e AS (SELECT vec_id, embedding,
        |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS maxabs
        |      FROM embeddings)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        |  CAST(CASE WHEN maxabs = 0 THEN 0
        |       ELSE floor(embedding[i]::DOUBLE * 127.0 / maxabs + 0.5) END AS BIGINT) AS qval
        |-- literal 64: lateral range(len(col)) is unsupported; the testdata
        |-- embedding dim is fixed (TESTDATA.md)
        |FROM e, range(1, 65) t(i)
        |ORDER BY vec_id, pos""".stripMargin)
}
