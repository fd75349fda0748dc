package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Fixtures._

/** Media and embedding gates: image / audio / video decode and
  * near-dup, the media signature index, and vector similarity
  * (brute force, LSH, IVF, semantic dedup). */
object MediaGates {

  /** q132's synthetic video corpus: per doc a 12-frame MJPEG AVI, a
    * frame-duplicated twin, a truncated-corrupt variant, and the same
    * frames as an animated GIF. Shared by the gate form (in-plan) and
    * the bench form (epoch-materialized). */
  private def q132Vids(s: SparkSession, d: String): DataFrame = {
    val mkPayload = udf((seed: Long, variant: Int) => variant match {
      case 0 => graft.multimodal.Decode.encodePatternAvi(seed)
      case 1 => graft.multimodal.Decode.encodePatternAvi(seed,
        dupFrames = 2)
      case 2 => graft.multimodal.Decode.encodePatternAvi(seed).take(60)
      case _ => graft.multimodal.Decode.encodePatternGif(seed)
    })
    // fixed-2000-doc gate machinery (the q104 precedent): the verdict
    // columns are scale-invariant correctness checks, and 4 videos ×
    // 12 JPEG frames per doc is ~29 ms/doc of decode — unbounded, the
    // GATE (not the operator) would dominate the bench at sf0.1+. The
    // unbounded operator cost is the documented decades in BASELINE.md
    T(s, d, "documents").df.select(col("doc_id"))
      .where(col("doc_id") < 2000)
      // thin-row fan-out (q123 note): frame synthesis/decode must not
      // serialize on the single-row-group test scan
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("variant"))
      .select(col("doc_id"), col("variant"),
        (col("doc_id") * 4 + col("variant")).as("vid_id"),
        mkPayload(col("doc_id"), col("variant")).as("payload"))
  }

  /** q132's operator half: temporal fingerprints → one multiProbe
    * banding pass → the twin/corrupt/gif verdict columns. */
  private def q132Gate(vids: DataFrame): DataFrame = {
    val sigs = GraftSession.trackPersist(
      graft.multimodal.Decode.videoSignatures(vids, "vid_id", "payload")
        .toDF()
        .select(col("vid_id"), floor(col("vid_id") / 4).as("doc_id"),
          pmod(col("vid_id"), lit(4)).as("variant"),
          col("container"), col("width"), col("height"),
          col("n_frames"), col("vhash")))
    val pairs = graft.text.Dedup.simhashNearDups(
      sigs.where(col("vhash").isNotNull)
        .select(col("vid_id"), col("vhash").as("simhash")),
      "vid_id", maxDistance = 8, maxBucket = 17000, multiProbe = true)
    val twinPairs = pairs // dup twin ids are 4d and 4d+1 (id_a < id_b)
      .filter(col("id_b") === col("id_a") + 1 &&
        pmod(col("id_a"), lit(4)) === 0 && col("hamming") === 0)
      .select(floor(col("id_a") / 4).as("doc_id"),
        lit(true).as("twin_found"))
    val gifPairs = pairs // gif twin ids are 4d and 4d+3
      .filter(col("id_b") === col("id_a") + 3 &&
        pmod(col("id_a"), lit(4)) === 0)
      .select(floor(col("id_a") / 4).as("doc_id"),
        lit(true).as("gif_found"))
    // one conditional aggregation replaces the former 4-way variant
    // self-join (the q123Gate note: (doc_id, variant) unique, so this
    // is a pivot, not a join; oracle-proven row/hash-identical)
    def v(n: Int, c: String) = max(when(col("variant") === n, col(c)))
    sigs.groupBy(col("doc_id")).agg(
        v(0, "container").as("c_a"), v(0, "width").as("w_a"),
        v(0, "height").as("h_a"), v(0, "n_frames").as("nf_a"),
        v(0, "vhash").as("vhash_a"),
        v(1, "n_frames").as("nf_b"), v(1, "vhash").as("vhash_b"),
        v(2, "container").as("c_c"), v(2, "n_frames").as("nf_c"),
        v(2, "vhash").as("vhash_c"),
        v(3, "container").as("c_d"), v(3, "n_frames").as("nf_d"),
        v(3, "vhash").as("vhash_d"))
      .join(twinPairs, Seq("doc_id"), "left")
      .join(gifPairs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("c_a"), col("w_a"), col("h_a"), col("nf_a"),
        // the dup stream samples back down to the base's 12 frames
        // (integer stride) — n_frames reports frames HASHED
        col("nf_b"), col("c_d"), col("nf_d"),
        bit_count(col("vhash_a").bitwiseXOR(col("vhash_b")))
          .cast(LongType).as("twin_hamming"),
        coalesce(col("twin_found"), lit(false)).as("twin_found"),
        (col("c_c") === "unknown" && col("vhash_c").isNull &&
          col("nf_c") === -1).as("corrupt_null"),
        (bit_count(col("vhash_a").bitwiseXOR(col("vhash_d"))) <= 11)
          .as("gif_near"),
        coalesce(col("gif_found"), lit(false)).as("gif_found"))
  }

  /** q123's synthetic image corpus: per doc a pattern PNG, its 2×
    * upscale twin, a truncated-corrupt variant, and a q=0.75 JPEG
    * re-encode. Shared by the gate form (synthesizes in-plan) and the
    * bench form (epoch-materialized via [[epochParquet]]). */
  private def q123Imgs(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents").df.select(col("doc_id"))
    val mkPayload = udf((seed: Long, variant: Int) => variant match {
      case 0 => graft.multimodal.Decode.encodePatternPng(seed, 2)
      case 1 => graft.multimodal.Decode.encodePatternPng(seed, 4)
      case 2 => graft.multimodal.Decode.encodePatternPng(seed, 2).take(16)
      case _ => graft.multimodal.Decode.reencodeJpeg(
        graft.multimodal.Decode.encodePatternPng(seed, 2), 0.75f).get
    })
    docs
      // single-row-group testdata = ONE scan task; the decode/synth
      // cost would serialize on it (at 100 TB the scan parallelizes
      // naturally). Repartition the THIN id rows — the exchange
      // carries 8 bytes/row, the heavy payloads are built after it
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("variant"))
      .select(col("doc_id"), col("variant"),
        (col("doc_id") * 4 + col("variant")).as("img_id"),
        mkPayload(col("doc_id"), col("variant")).as("payload"))
  }

  /** q123's operator half: decode → dHash → one multiProbe banding
    * pass → the twin/corrupt/jpeg verdict columns. */
  private def q123Gate(imgs: DataFrame): DataFrame = {
    val sigs = graft.GraftSession.trackPersist(
      graft.multimodal.Decode.imageSignatures(imgs, "img_id", "payload")
        .toDF()
        .select(col("img_id"), floor(col("img_id") / 4).as("doc_id"),
          pmod(col("img_id"), lit(4)).as("variant"),
          col("format"), col("width"), col("height"), col("dhash")))
    // maxBucket raised from the 1000 default (the q104 multi-probe
    // precedent): probes multiply per-band bucket load ~17× (exact
    // chunk + 16 one-bit flips), and cappedCandidatePairs DROPS
    // over-cap buckets wholesale — at the default the gate's
    // guaranteed-recall claim would silently expire near ~1.3M
    // docs (avg occupancy 17·3·docs/2^16 > 1000). At 17000 the
    // ceiling is back at ~22M docs — the pre-probe gate's ceiling;
    // production corpora beyond that tune maxBucket with the
    // documented recall/cost lever.
    val pairs = graft.text.Dedup.simhashNearDups(
      sigs.where(col("dhash").isNotNull)
        .select(col("img_id"), col("dhash").as("simhash")),
      "img_id", maxDistance = 8, maxBucket = 17000, multiProbe = true)
    val twinPairs = pairs // twin ids are 4d and 4d+1 (id_a < id_b)
      .filter(col("id_b") === col("id_a") + 1 &&
        pmod(col("id_a"), lit(4)) === 0 && col("hamming") === 0)
      .select(floor(col("id_a") / 4).as("doc_id"),
        lit(true).as("twin_found"))
    val jpegPairs = pairs // jpeg twin ids are 4d and 4d+3
      .filter(col("id_b") === col("id_a") + 3 &&
        pmod(col("id_a"), lit(4)) === 0)
      .select(floor(col("id_a") / 4).as("doc_id"),
        lit(true).as("jpeg_found"))
    // one conditional aggregation replaces the former 4-way variant
    // self-join (r17 §2.4: each (doc_id, variant) is unique — the
    // decoder emits exactly one row per payload, corrupt included —
    // so max(when(variant = v, col)) IS that variant's value and the
    // n-ary inner join on doc_id was 4 exchanges doing a pivot's job;
    // oracle-proven row/hash-identical)
    def v(n: Int, c: String) = max(when(col("variant") === n, col(c)))
    sigs.groupBy(col("doc_id")).agg(
        v(0, "format").as("fmt_a"), v(0, "width").as("w_a"),
        v(0, "height").as("h_a"), v(0, "dhash").as("dhash_a"),
        v(1, "width").as("w_b"), v(1, "height").as("h_b"),
        v(1, "dhash").as("dhash_b"),
        v(2, "format").as("fmt_c"), v(2, "width").as("w_c"),
        v(2, "dhash").as("dhash_c"),
        v(3, "width").as("w_d"), v(3, "height").as("h_d"),
        v(3, "dhash").as("dhash_d"))
      .join(twinPairs, Seq("doc_id"), "left")
      .join(jpegPairs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("w_a"), col("h_a"), col("w_b"), col("h_b"),
        bit_count(col("dhash_a").bitwiseXOR(col("dhash_b")))
          .cast(LongType).as("twin_hamming"),
        coalesce(col("twin_found"), lit(false)).as("twin_found"),
        (col("fmt_c") === "unknown" && col("dhash_c").isNull &&
          col("w_c") === -1).as("corrupt_null"),
        (col("w_d") === col("w_a") && col("h_d") === col("h_a") &&
          bit_count(col("dhash_a").bitwiseXOR(col("dhash_d"))) <= 11)
          .as("jpeg_near"),
        coalesce(col("jpeg_found"), lit(false)).as("jpeg_found"))
  }

  /** q127's synthetic audio corpus: per doc the seeded envelope as
    * 8 kHz full-gain WAV, a 16 kHz half-gain re-encode twin, a
    * truncated-corrupt variant, and a leading-silence offset twin.
    * Shared by gate (in-plan) and bench (epoch) forms. */
  private def q127Auds(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents").df.select(col("doc_id"))
    val mkPayload = udf((seed: Long, variant: Int) => variant match {
      case 0 => graft.multimodal.Decode.encodeEnvelopeWav(
        seed, 8000, segSamples = 32, gain = 1.0)
      case 1 => graft.multimodal.Decode.encodeEnvelopeWav(
        seed, 16000, segSamples = 64, gain = 0.5)
      case 2 => graft.multimodal.Decode.encodeEnvelopeWav(
        seed, 8000, segSamples = 32, gain = 1.0).take(16)
      case _ => graft.multimodal.Decode.encodeEnvelopeWav(
        seed, 8000, segSamples = 32, gain = 1.0, padSamples = 2000)
    })
    docs
      // same thin-row fan-out as q123: synthesis/decode must not
      // serialize on the single-row-group test scan
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array(lit(0), lit(1), lit(2), lit(3))).as("variant"))
      .select(col("doc_id"), col("variant"),
        (col("doc_id") * 4 + col("variant")).as("aud_id"),
        mkPayload(col("doc_id"), col("variant")).as("payload"))
  }

  /** q127's operator half: decode → envelope + chroma fingerprints →
    * two distance-0 banding passes → the twin/corrupt/offset verdict
    * columns. */
  private def q127Gate(auds: DataFrame): DataFrame = {
    val sigs = graft.GraftSession.trackPersist(
      graft.multimodal.Decode.audioSignatures(auds, "aud_id", "payload")
        .toDF()
        .select(col("aud_id"), floor(col("aud_id") / 4).as("doc_id"),
          pmod(col("aud_id"), lit(4)).as("variant"),
          col("sample_rate"), col("n_samples"), col("afp"),
          col("cfp")))
    val pairs = graft.text.Dedup.simhashNearDups(
      sigs.where(col("afp").isNotNull)
        .select(col("aud_id"), col("afp").as("simhash")),
      "aud_id", maxDistance = 0)
    val cpairs = graft.text.Dedup.simhashNearDups(
      sigs.where(col("cfp").isNotNull)
        .select(col("aud_id"), col("cfp").as("simhash")),
      "aud_id", maxDistance = 0)
    val twinPairs = pairs // twin ids are 4d and 4d+1 (id_a < id_b)
      .filter(col("id_b") === col("id_a") + 1 &&
        pmod(col("id_a"), lit(4)) === 0)
      .select(floor(col("id_a") / 4).as("doc_id"),
        lit(true).as("twin_found"))
    val offPairs = cpairs // offset twin ids are 4d and 4d+3
      .filter(col("id_b") === col("id_a") + 3 &&
        pmod(col("id_a"), lit(4)) === 0)
      .select(floor(col("id_a") / 4).as("doc_id"),
        lit(true).as("off_found"))
    // one conditional aggregation replaces the former 4-way variant
    // self-join (the q123Gate note: (doc_id, variant) unique, so this
    // is a pivot, not a join; oracle-proven row/hash-identical)
    def v(n: Int, c: String) = max(when(col("variant") === n, col(c)))
    sigs.groupBy(col("doc_id")).agg(
        v(0, "sample_rate").as("sr_a"), v(0, "n_samples").as("n_a"),
        v(0, "afp").as("afp_a"), v(0, "cfp").as("cfp_a"),
        v(1, "sample_rate").as("sr_b"), v(1, "n_samples").as("n_b"),
        v(1, "afp").as("afp_b"), v(1, "cfp").as("cfp_b"),
        v(2, "sample_rate").as("sr_c"), v(2, "afp").as("afp_c"),
        v(3, "n_samples").as("n_d"), v(3, "afp").as("afp_d"),
        v(3, "cfp").as("cfp_d"))
      .join(twinPairs, Seq("doc_id"), "left")
      .join(offPairs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("sr_a"), col("n_a"), col("sr_b"), col("n_b"), col("n_d"),
        bit_count(col("afp_a").bitwiseXOR(col("afp_b")))
          .cast(LongType).as("twin_hamming"),
        coalesce(col("twin_found"), lit(false)).as("twin_found"),
        (col("afp_c").isNull && col("sr_c") === -1).as("corrupt_null"),
        (bit_count(col("afp_a").bitwiseXOR(col("afp_d"))) > 0)
          .as("off_env_differs"),
        bit_count(col("cfp_a").bitwiseXOR(col("cfp_d")))
          .cast(LongType).as("off_chroma_hamming"),
        coalesce(col("off_found"), lit(false)).as("off_found"),
        (bit_count(col("cfp_a").bitwiseXOR(col("cfp_b"))) <= 24)
          .as("rate_chroma_near"))
  }

  /** q133's shared fixed-2000-doc id spine (thin-row fan-out before
    * payload synthesis — the q123 note). */
  private def q133Sub(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents").df.select(col("doc_id"))
      .where(col("doc_id") < 2000)
      .repartition(s.sparkContext.defaultParallelism)

  /** q133's index half: synthesize the indexed corpus (doc_id%4 < 3),
    * decode to dHash signatures, and (re)write the SigIndex tables
    * under `name`. */
  private def q133BuildIndex(s: SparkSession, d: String,
                             name: String): Unit = {
    val mkOld = udf((id: Long) =>
      graft.multimodal.Decode.encodePatternPng(id, 2))
    val old = q133Sub(s, d).filter(pmod(col("doc_id"), lit(4)) < 3)
      .select(col("doc_id"), mkOld(col("doc_id")).as("payload"))
    val oldSigs = GraftSession.trackPersist(graft.multimodal.Decode
      .imageSignatures(old, "doc_id", "payload").toDF()
      .select(col("img_id").as("doc_id"), col("dhash")))
    graft.text.SigIndex.write(oldSigs, "doc_id", "dhash", name)
  }

  /** q133's ingest-batch payloads (doc_id%4 == 3): half q=0.75 JPEG
    * re-encodes of indexed docs (must be caught), half novel
    * patterns (must survive). */
  private def q133BatchPayloads(s: SparkSession, d: String): DataFrame = {
    val mkBatch = udf((id: Long) =>
      if (id % 8 == 3) graft.multimodal.Decode.reencodeJpeg(
        graft.multimodal.Decode.encodePatternPng(id - 1, 2), 0.75f).get
      else graft.multimodal.Decode.encodePatternPng(id + 10000000L, 2))
    q133Sub(s, d).filter(pmod(col("doc_id"), lit(4)) === 3)
      .select(col("doc_id"), mkBatch(col("doc_id")).as("payload"))
  }

  /** q133's operator half: decode the batch, filter it against the
    * SigIndex under `ix`, emit the expected/observed verdicts. */
  private def q133Verdict(batch: DataFrame, ix: String): DataFrame = {
    // persist: the batch decode feeds three consumers (the verdict
    // join, dropDupsAgainst's anti-join side, nearDups' probe input)
    val batchSigs = GraftSession.trackPersist(graft.multimodal.Decode
      .imageSignatures(batch, "doc_id", "payload").toDF()
      .select(col("img_id").as("doc_id"), col("dhash")))
    val kept = graft.text.SigIndex.dropDupsAgainst(
      batchSigs, "doc_id", "dhash", ix)
    batchSigs.select(col("doc_id"))
      .join(kept.select(col("doc_id"), lit(true).as("survived")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(8)) === 3, lit("dup"))
          .otherwise(lit("novel")).as("expected"),
        coalesce(col("survived"), lit(false)).as("survived"),
        ((pmod(col("doc_id"), lit(8)) =!= 3) ===
          coalesce(col("survived"), lit(false))).as("ok"))
  }

  val all: Seq[Gate] = Seq(
    // SemDeDup: k-means cells confine the exact-cosine pair search (one
    // cell-keyed shuffle + same-cell self-join, 3-probe soft assignment);
    // gated by the brute-force twin — precision exactly 1.0 (in-cell
    // pairs are exact cosine), recall measured 0.97/0.96 at sf0.01/0.1,
    // bounded at 0.8
    Gate("q93_semdedup", (s, d) => {
      val emb = T(s, d, "embeddings").df
      val found = graft.GraftSession.trackPersist(
        graft.ml.SemDedup.withinCellPairs(
          emb, "vec_id", "embedding", threshold = 0.35, k = 8, probes = 3))
      val exact = graft.GraftSession.trackPersist(
        graft.ml.Similarity.exactCosinePairs(
          emb, "vec_id", "embedding", threshold = 0.35))
      val aggF = found.join(
          exact.select(col("id_a"), col("id_b"), lit(1L).as("hit")),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_found"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(aggF).select(
        col("n_exact"),
        (col("n_hit") >= ceil(col("n_exact") * 0.8)).as("recall_ok"),
        (col("n_found") === col("n_hit")).as("precision_ok"))
    },
      // the oracle recomputes the exact-cosine pair count (the twin's
      // denominator); the recall/precision verdicts are Spark-side booleans
      """SELECT count(*) AS n_exact, true AS recall_ok,
                true AS precision_ok
         FROM (SELECT round(CAST(list_cosine_similarity(
                        CAST(a.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 6) AS cs
               FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         WHERE cs >= 0.35""",
      bench = Some((s, d) =>
        // k = 0 → auto-scale the cell count with the corpus (the
        // production configuration; a fixed k goes quadratic — r12
        // measured 10× corpus → 38× wall at k=8). At sf0.1 auto
        // resolves to the same k=8 the gate pins.
        graft.ml.SemDedup.semanticDedup(
          T(s, d, "embeddings").df, "vec_id", "embedding",
          threshold = 0.35, k = 0, probes = 3))),

    // Video near-dup dedup (r17 — closes the image/audio/VIDEO triad):
    // per doc a 12-frame MJPEG AVI (hand-rolled RIFF container, JPEG
    // frames), a frame-DUPLICATED twin (the frame-rate-resample
    // class — the temporal majority-bit hash is exact under it by
    // construction, integer-stride sampling), a truncated-corrupt
    // variant, and the SAME frames as an animated GIF (cross-container
    // twin; the gray patterns fit GIF's 256-color palette losslessly,
    // so its distance to the AVI hash is exactly the per-frame JPEG
    // noise surviving the majority vote — measured max 7 over 3000
    // seeds, pinned at 11 = the multiProbe banding's guaranteed-recall
    // radius, one structural claim with q123's policy). One banding
    // pass surfaces both twin classes; heavy payload bytes stay in the
    // scan stage, only (id, band, 8-byte vhash) rows shuffle. q44
    // pattern: container/dims/frame counts are DuckDB-recomputable
    // anchors; twin/corrupt/gif verdicts are Spark-computed, pinned
    // true.
    Gate("q132_video_dedup", (s, d) => q132Gate(q132Vids(s, d)),
      // q132 (r17): container/dims/frame-count anchors are fixed by the
      // deterministic synthesis (12 pattern frames at 18×16; the dup
      // stream integer-stride-samples back to 12 hashed frames); the
      // twin/corrupt/gif verdicts are Spark-computed, pinned true —
      // twin_hamming 0 is structural (majority vote over each source
      // frame exactly once), gif_near ≤ 11 is the banding recall radius
      // (measured max 7 over 3000 seeds)
      """SELECT doc_id,
                'avi' AS c_a, 18 AS w_a, 16 AS h_a, 12 AS nf_a,
                12 AS nf_b, 'gif' AS c_d, 12 AS nf_d,
                CAST(0 AS BIGINT) AS twin_hamming,
                true AS twin_found,
                true AS corrupt_null,
                true AS gif_near,
                true AS gif_found
         FROM documents
         WHERE doc_id < 2000""",
      // epoch splits ([[epochParquet]] — the r17 VERDICT ask for
      // q130, extended to every media gate that synthesizes payloads
      // in-plan): the timed run measures decode/fingerprint/banding —
      // or cleanDocs — over a parquet scan, never the payload
      // generator the gate form embeds for hash-gate composition.
      bench = Some((s, d) =>
        q132Gate(epochParquet(s, q132Vids(s, d), "q132_vids", d)))),

    // Media-signature ingest index (r17, SigIndex — the q105 of the
    // multimodal stack): an image corpus (doc_id%4 < 3, fixed-2000-doc
    // scope) indexes its dHash signatures ONCE into bucketed tables
    // (ids + 8-byte sigs, never payloads); an ingest batch
    // (doc_id%4 == 3) then fingerprints in the scan stage and filters
    // against the index without rescanning old bytes. Batch payloads:
    // doc_id%8==3 → a q=0.75 JPEG re-encode of indexed doc_id-1
    // (measured drift ≤7 = exactly the query-side-probe recall
    // guarantee, so "caught" is a GUARANTEED claim); doc_id%8==7 → a
    // genuinely novel pattern (seed offset 10M). Expected outcome is
    // pure doc_id arithmetic — the oracle derives it independently and
    // the ok column (expected == observed survival) is pinned true.
    Gate("q133_media_index", (s, d) => {
      q133BuildIndex(s, d, "q133_ix")
      q133Verdict(q133BatchPayloads(s, d), "q133_ix")
    },
      // q133 (r17): the batch is the doc_id%4==3 slice of the 2000-doc
      // scope; expected outcome is doc_id arithmetic (%8==3 → a JPEG
      // twin of an indexed image, caught; else novel, survives) and the
      // ok column pins expected == observed
      """SELECT doc_id,
                CASE WHEN doc_id % 8 = 3 THEN 'dup' ELSE 'novel' END
                  AS expected,
                doc_id % 8 <> 3 AS survived,
                true AS ok
         FROM documents
         WHERE doc_id < 2000 AND doc_id % 4 = 3""",
      // q133: the index is additionally an EPOCH artifact (the q105
      // precedent — built once per (session, sf dir); the timed run
      // measures the recurring batch-ingest filter, the production
      // steady state an index exists for). The batch payloads epoch
      // like the other media gates; their DECODE stays timed — that
      // is the operator's scan stage.
      bench = Some((s, d) => {
        val ix = epochTables(s, "q133_ix", d)(q133BuildIndex(s, d, _))
        q133Verdict(
          epochParquet(s, q133BatchPayloads(s, d), "q133_batch", d), ix)
      })),

    // Image perceptual-hash near-dup dedup (r16 — the multimodal
    // counterpart of q43/q44): per doc, TWO lossless PNG renders of
    // the same seeded 9×8-cell pattern at 2px and 4px cells (a true
    // resize twin) plus ONE corrupt payload (truncated PNG). REAL
    // ImageIO decode → box-averaged 64-bit dHash (box averaging makes
    // the hash exactly invariant under the grid-aligned upscale) →
    // the existing 64-bit Hamming banding (Dedup.simhashNearDups,
    // distance 0) must surface every twin pair. q44 pattern: decoded
    // dims are DuckDB-recomputable anchors; twin-found / hash-equal /
    // corrupt-reports-null are Spark-computed verdicts pinned true.
    // r17 adds variant 3: a JPEG RE-ENCODE of the base pattern (ImageIO
    // writer, quality 0.75) — the lossy-recompression twin the r16
    // VERDICT flagged as untested (the upscale twin is exact BY
    // DESIGN; JPEG noise is not). The jpeg_near bound is the banding
    // pass's GUARANTEED-recall radius, not a bare empirical max: with
    // multiProbe at maxDistance=8, one-bit-flip probes guarantee any
    // pair within hamming 11 is surfaced — so jpeg_near ≤ 11 and
    // jpeg_found make one consistent claim. Measured drift sits well
    // inside it: max 7 bits at q=0.75 over 50000 seeds (tail decays
    // ~5× per bit — 6:6, 7:1 — so even sf100's seed range stays
    // inside 11 with overwhelming margin). The exact upscale twin
    // still requires hamming 0 (filter on the same pass).
    Gate("q123_image_dedup", (s, d) => q123Gate(q123Imgs(s, d)),
      // jpeg_near/jpeg_found (r17): JPEG-recompression twin within the
      // banding's guaranteed-recall radius (11 bits; measured max 7 over
      // 50000 seeds at quality 0.75) and surfaced by the multiProbe pass
      """SELECT doc_id,
                18 AS w_a, 16 AS h_a, 36 AS w_b, 32 AS h_b,
                CAST(0 AS BIGINT) AS twin_hamming,
                true AS twin_found,
                true AS corrupt_null,
                true AS jpeg_near,
                true AS jpeg_found
         FROM documents""",
      bench = Some((s, d) =>
        q123Gate(epochParquet(s, q123Imgs(s, d), "q123_imgs", d)))),

    // Audio perceptual-fingerprint near-dup dedup (r16 — the audio
    // counterpart of q123): per doc, the SAME seeded 65-segment
    // amplitude envelope rendered as PCM16 WAV at 8 kHz full gain and
    // at 16 kHz half gain (a true re-encode twin: 2× sample rate, 6 dB
    // quieter) plus ONE corrupt payload (truncated header). REAL
    // javax.sound decode → 65-frame energy-contour 64-bit fingerprint
    // (box frames align exactly with the envelope segments, so the
    // hash is invariant under the rate/gain change) → the existing
    // 64-bit Hamming banding at distance 0 must surface every twin
    // pair. q44 pattern: sample rate / sample count are DuckDB-
    // recomputable anchors; twin-found / hash-equal / corrupt-reports-
    // null are Spark-computed verdicts pinned true.
    // r17 adds variant 3 — the same envelope with 0.25 s of LEADING
    // SILENCE (2000 zero samples at 8 kHz) — and the chromaprint-lite
    // spectral fingerprint (cfp) next to the envelope contour (afp),
    // both from ONE decode. The twins now pin the honest robustness
    // matrix (MeasureMediaTwins, 50000 seeds):
    //   afp: rate/gain twin exact (0 bits), offset twin BROKEN
    //        (18-46 bits — off_env_differs pins the gap the r16
    //        VERDICT predicted);
    //   cfp: offset twin exact (silence trims away, 0 bits — banded
    //        at distance 0 for off_found), rate/gain twin approximate
    //        (max 17 bits at 50k: partial-period phase noise in the
    //        48 energy transitions — pinned ≤ 24 with tail margin
    //        (decay ≥4×/bit above 15), too far for banded recall).
    // Data picks the DEFAULT: afp (4× cheaper — 66 vs 264 µs/payload — exact on re-rate);
    // cfp is the shift-robust complement — re-encode-heavy corpora
    // band on both and union the pairs.
    Gate("q127_audio_dedup", (s, d) => q127Gate(q127Auds(s, d)),
      // r17 offset-twin columns: n_d = 2000 pad + 65·32 envelope
      // samples; off_env_differs (envelope is shift-FRAGILE, measured
      // 18-46 bits at 50k seeds), off_chroma_hamming exactly 0 (silence
      // trims away), off_found via distance-0 banding on cfp,
      // rate_chroma_near ≤ 24 (measured max 17 over 50000 seeds, tail
      // decay ≥4×/bit)
      """SELECT doc_id,
                8000 AS sr_a, CAST(2080 AS BIGINT) AS n_a,
                16000 AS sr_b, CAST(4160 AS BIGINT) AS n_b,
                CAST(4080 AS BIGINT) AS n_d,
                CAST(0 AS BIGINT) AS twin_hamming,
                true AS twin_found,
                true AS corrupt_null,
                true AS off_env_differs,
                CAST(0 AS BIGINT) AS off_chroma_hamming,
                true AS off_found,
                true AS rate_chroma_near
         FROM documents""",
      bench = Some((s, d) =>
        q127Gate(epochParquet(s, q127Auds(s, d), "q127_auds", d)))),

    Gate("q99_ppm_decode", (s, d) => {
      import s.implicits._
      val media = T(s, d, "documents").df.select(col("doc_id"))
        .as[Long].mapPartitions(_.map { id =>
          (id, graft.multimodal.Decode.encodeSolidPpm(
            (id % 16 + 1).toInt, (id % 8 + 1).toInt,
            (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt))
        }).toDF("doc_id", "payload")
      graft.multimodal.Decode.imageFeatures(media, "doc_id", "payload")
        .toDF()
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    },
      """SELECT doc_id,
                CAST(doc_id % 16 + 1 AS INT) AS width,
                CAST(doc_id % 8 + 1 AS INT) AS height,
                round((doc_id % 256) / 255.0, 6) AS mean_r,
                round((doc_id * 7 % 256) / 255.0, 6) AS mean_g,
                round((doc_id * 13 % 256) / 255.0, 6) AS mean_b
         FROM documents"""),

    // brute-force cosine top-k against a fixed query vector
    Gate("q46_ann_brute", (s, d) => {
      val emb = T(s, d, "embeddings").df
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      graft.ml.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    },
      """SELECT vec_id,
                round(CAST(list_cosine_similarity(
                    CAST(embedding AS DOUBLE[]),
                    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                     WHERE vec_id = 0)) AS DOUBLE), 6) AS cos_sim
         FROM embeddings
         ORDER BY cos_sim DESC, vec_id LIMIT 10"""),

    // LSH ANN over a PERSISTED bucket-partitioned index: built ONCE per
    // dataset (cached across invocations — bench warmup builds it, timed
    // runs measure the probe path, which is the real repeated-query
    // workload) and probed via partition-pruned read + multi-probe.
    // Gated by the brute-force exact twin: recall@10 ≥ 0.5 (measured 0.6
    // at sf0.01; seeded planes → deterministic), the query's own vector
    // (vec_id 0, cos 1.0) must surface, and exactly k rows return.
    Gate("q47_ann_lsh", (s, d) => {
      val emb = T(s, d, "embeddings").df
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val idx = annIndex(d)(
        graft.ml.Similarity.buildAnnIndex(
          emb, "vec_id", "embedding", numPlanes = 4, _))
      val ann = idx.topK(q, 10, probeRadius = 1)
      val exact = graft.ml.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, 10)
      // every verdict from ONE agg over the probe result
      val aggA = ann.join(
          exact.select(col("vec_id"), lit(1L).as("hit")), Seq("vec_id"),
          "left")
        .agg(count(lit(1)).as("k_returned"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"),
          count(when(col("vec_id") === 0, 1)).as("n_top1"))
      emb.agg(count(lit(1)).as("n_vectors")).crossJoin(aggA).select(
        col("n_vectors"), col("k_returned"),
        (col("n_top1") === 1).as("top1_ok"),
        (col("n_hit") >= 5).as("recall_ok"))
    },
      """SELECT count(*) AS n_vectors, CAST(10 AS BIGINT) AS k_returned,
                true AS top1_ok, true AS recall_ok
         FROM embeddings"""),

    // multimodal batch feature extraction over MIXED payloads (r17:
    // the byte0/256 stub is retired — extractFeatures magic-sniffs and
    // dispatches to the REAL Decode decoders): doc_id%3 picks a solid
    // PPM (q99's pixel-exact anchors), a PCM16 WAV (byte-exact size/
    // rate/frame anchors), or raw text bytes (→ the unknown REPORTING
    // row — never dropped, never fabricated features). Audio RMS is
    // decoder-derived, so it rides the Spark-computed verdict column
    // (q44 pattern); everything else is DuckDB-recomputed.
    Gate("q51_multimodal", (s, d) => {
      import s.implicits._
      val media = T(s, d, "documents").df.select(col("doc_id"), col("text"))
        .as[(Long, String)].mapPartitions(_.map { case (id, text) =>
          val payload = (id % 3) match {
            case 0 => graft.multimodal.Decode.encodeSolidPpm(
              (id % 16 + 1).toInt, (id % 8 + 1).toInt,
              (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)
            case 1 => graft.multimodal.Decode.encodeEnvelopeWav(
              id, 8000, segSamples = 32, gain = 1.0)
            case _ =>
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          graft.multimodal.Multimodal.MediaRecord(
            id, payload, "application/octet-stream", 0, 0)
        })
      graft.multimodal.Multimodal.extractFeatures(media, batchSize = 64)
        .toDF().select(col("doc_id"), col("kind"), col("format"),
          col("n_bytes"), col("width"), col("height"),
          col("sample_rate"), col("n_frames"),
          when(col("kind") === "image", round(col("f0"), 6))
            .otherwise(lit(0.0)).as("mean_r"),
          when(col("kind") === "audio",
            col("f0") > 0.0 && col("f0") <= 1.0)
            .otherwise(lit(true)).as("v_rms"))
    },
      // r17 (stub retired): PPM rows recompute byte-exact payload size
      // ("P6\n<w> <h>\n255\n" header + 3wh) and the solid-color mean;
      // WAV rows recompute the canonical 44-byte-header size, rate and
      // 65x32 mono frame count; text rows are the unknown reporting
      // shape. v_rms (decoder-derived RMS in (0,1]) pinned true.
      """WITH m AS (
           SELECT doc_id, text,
                  doc_id % 16 + 1 AS w, doc_id % 8 + 1 AS h
           FROM documents)
         SELECT doc_id,
                CASE doc_id % 3 WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'unknown' END AS kind,
                CASE doc_id % 3 WHEN 0 THEN 'ppm'
                     WHEN 1 THEN 'wav' ELSE 'unknown' END AS format,
                CAST(CASE doc_id % 3
                     WHEN 0 THEN 9 + length(CAST(w AS VARCHAR))
                                 + length(CAST(h AS VARCHAR)) + 3*w*h
                     WHEN 1 THEN 4204
                     ELSE octet_length(CAST(text AS BLOB)) END
                  AS BIGINT) AS n_bytes,
                CAST(CASE doc_id % 3 WHEN 0 THEN w ELSE -1 END
                  AS INT) AS width,
                CAST(CASE doc_id % 3 WHEN 0 THEN h ELSE -1 END
                  AS INT) AS height,
                CAST(CASE doc_id % 3 WHEN 1 THEN 8000 ELSE -1 END
                  AS INT) AS sample_rate,
                CAST(CASE doc_id % 3 WHEN 1 THEN 2080 ELSE -1 END
                  AS BIGINT) AS n_frames,
                round(CASE doc_id % 3
                  WHEN 0 THEN CAST(doc_id % 256 AS DOUBLE) / 255.0
                  ELSE 0.0 END, 6) AS mean_r,
                true AS v_rms
         FROM m"""),

    // frame-sampling shape over binary payloads — deterministic byte
    // slicing, oracle-checked (the DuckDB twin slices VARCHAR, which
    // matches byte semantics because the synthetic text is ASCII). The
    // gate projects the frame as HEX: the driver's pandas-based compare
    // can't hash raw binary cells, and hex pins the exact same bytes.
    Gate("q52_frames", (s, d) =>
      graft.multimodal.Multimodal.sampleFrames(
        T(s, d, "documents").df
          .select(col("doc_id"), col("text").cast(BinaryType).as("payload")),
        "doc_id", "payload", chunkBytes = 32, everyK = 4)
        .select(col("doc_id"), col("frame_idx"),
          hex(col("frame_bytes")).as("frame_hex")),
      // sampleFrames(chunkBytes=32, everyK=4): frame i = payload bytes
      // [i*128, i*128+32); n_frames = max(floor(len/128), 1). DuckDB lacks
      // BLOB substring, so the twin slices the VARCHAR and casts — exact
      // while the synthetic corpus is ASCII (checked: 0 multibyte docs)
      """SELECT d.doc_id, CAST(t.i AS INT) AS frame_idx,
                upper(hex(CAST(substring(d.text, CAST(t.i*128+1 AS BIGINT), 32)
                     AS BLOB))) AS frame_hex
         FROM documents d,
              LATERAL (SELECT unnest(range(0,
                 greatest(length(d.text)//128, 1))) AS i) t"""),

    // embedding-cosine near-dup pairs: banded multi-plane LSH signatures
    // with a maxBucket cap (same shape as MinHash LSH — candidates from
    // shared band-buckets, exact cosine verify on candidates only, never
    // a cross join). Gated by the EXACT quadratic cosine twin: the DuckDB
    // oracle recomputes n_exact independently; recall ≥ 0.6 (measured
    // 0.76 at sf0.01; seeded planes → deterministic) and zero pairs
    // outside the exact set. HardeningSpec covers above-threshold
    // correctness.
    Gate("q62_embedding_neardup", (s, d) => {
      val emb = T(s, d, "embeddings").df
      // both pair sets feed several verdict aggregates — persist results
      val found = graft.GraftSession.trackPersist(
        graft.ml.Similarity.nearNeighborPairs(
          emb, "vec_id", "embedding",
          threshold = 0.35, numPlanes = 32, numBands = 8))
      val exact = graft.GraftSession.trackPersist(
        graft.ml.Similarity.exactCosinePairs(
          emb, "vec_id", "embedding", threshold = 0.35))
      // one join + two single-row aggs (q43 pattern)
      val aggF = found.join(
          exact.select(col("id_a"), col("id_b"), lit(1L).as("hit")),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_found"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(aggF).select(
        col("n_exact"),
        (col("n_hit") >= ceil(col("n_exact") * 0.6)).as("recall_ok"),
        (col("n_found") === col("n_hit")).as("precision_ok"))
    },
      // independent recomputation of q62's exact-twin count
      """SELECT count(*) AS n_exact, true AS recall_ok,
                true AS precision_ok
         FROM (SELECT round(CAST(list_cosine_similarity(
                        CAST(a.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])) AS DOUBLE), 6) AS cs
               FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         WHERE cs >= 0.35""",
      bench = Some((s, d) =>
        graft.ml.Similarity.nearNeighborPairs(
          T(s, d, "embeddings").df, "vec_id", "embedding",
          threshold = 0.35, numPlanes = 32, numBands = 8))),

    // IVF ANN: k-means coarse quantizer (deterministic seeded init), the
    // assignment WRITTEN cell-partitioned — fit+write happen ONCE per
    // dataset (cached; bench times the partition-pruned probe path, the
    // real repeated-query workload) — probe reads only the nprobe nearest
    // cells. Gated by the brute-force exact twin: recall@10 ≥ 0.6
    // (measured 0.9 at sf0.01; seeded init → deterministic), top-1
    // surfaces, exactly k rows return. IvfSpec asserts recall too.
    Gate("q63_ann_ivf", (s, d) => {
      val emb = T(s, d, "embeddings").df
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val (path, centroids) = ivfIndex(d) { p =>
        val model = graft.ml.Ivf.fit(emb, "embedding", k = 8, iters = 3)
        graft.ml.Ivf.writeIndex(model, p)
        model.centroids
      }
      // nprobe=4 (r17 correctness fix, was 2): at sf0.001 (500
      // vectors over k=8 cells) the exact top-10 spans >2 cells and
      // the deterministic fit put only 3 of them in the 2 probed
      // cells — recall_ok read FALSE at a scale factor the sf0.01
      // gate never exercised. Probing is monotone (more cells ⇒
      // superset of candidates ⇒ recall can only rise), measured
      // n_hit 3→7 / 6→7 / 7→8 at sf0.001/0.01/0.1, so every
      // previously-green verdict is unchanged and the gate's claim
      // now holds at every checked scale.
      val ann = graft.ml.Ivf.searchIndex(s, path, centroids, "vec_id",
        "embedding", q, topK = 10, nprobe = 4)
      val exact = graft.ml.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, 10)
      // every verdict from ONE agg over the probe result
      val aggA = ann.join(
          exact.select(col("vec_id"), lit(1L).as("hit")), Seq("vec_id"),
          "left")
        .agg(count(lit(1)).as("k_returned"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hit"),
          count(when(col("vec_id") === 0, 1)).as("n_top1"))
      emb.agg(count(lit(1)).as("n_vectors")).crossJoin(aggA).select(
        col("n_vectors"), col("k_returned"),
        (col("n_top1") === 1).as("top1_ok"),
        (col("n_hit") >= 6).as("recall_ok"))
    },
      """SELECT count(*) AS n_vectors, CAST(10 AS BIGINT) AS k_returned,
                true AS top1_ok, true AS recall_ok
         FROM embeddings""")
  )
}
