package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Packing, Sampling, SimilaritySearch, TextAnalysis => TA}
import graft.queries.PipelineShared._

/** m-family query registry — multimodal: binary payload metadata, frame demux, perceptual fingerprints, energy gates.
  * Split out of the monolithic PipelineQueries in round 11 (pure
  * re-grouping: every entry verbatim; shared machinery lives in
  * [[PipelineShared]], aggregation in [[PipelineQueries]]). */
private[graft] object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Perceptual frame-overlap (m04's re-encode-surviving twin): docs < 40
    // are planted back as byte-shifted "re-encodes" (monotone remap — every
    // md5 changes, so m04 would MISS all of them), then frames are
    // fingerprinted with the gradient-sign dHash instead of md5 and joined
    // through the same capped frameOverlap. The oracle hashes the ORIGINAL
    // text for the planted ids — equality across the engines holds exactly
    // because the dHash is monotone-remap-invariant, so the driver compare
    // proves the perceptual property end-to-end, not just the plumbing.
    // Frame-energy gate (the pre-fingerprint "drop silence / black
    // frames" stage): docs < 30 are planted back as constant-byte
    // "silent" media whose every frame scores an integer byte-variance
    // of exactly 0 and must be dropped, while real text frames clear the
    // threshold; per-media live-frame rates are the driver-visible
    // output. The energy compare is pure integer arithmetic
    // (n·Σx² − (Σx)² vs n²·minVar) on both engines — no FP boundary.
    "m06_frame_energy" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val media = M.asMediaTable(docs(s, dir))
      val silent = M.asMediaTable(docs(s, dir).filter(col("doc_id") < 30)
        .select((col("doc_id") + 200000L).as("doc_id"),
          repeat(lit("x"), 256).as("text")))
      val frames = M.sampleFrames(media.unionByName(silent),
        frameBytes = 64, stride = 4).toDF()
      val allCnt = frames.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"))
      val liveCnt = M.frameEnergyFilter(frames, minVariance = 4L)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_live"))
      allCnt.join(liveCnt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_live"), lit(0L)).as("n_live"))
        .withColumn("live_bp", expr("n_live * 10000 DIV n_frames"))
    }),


    "m05_perceptual_overlap" -> ((s, dir) =>
      mediaPairsAndClusters(s, dir)._1),


    // m07: the perceptual dedup APPLY — m05's pair stream clustered
    // (pointer-jumping components over the bounded pair population) and
    // every non-representative member dropped: the re-encoded planted
    // copies (+100000 ids) are removed even though every byte differs,
    // their originals survive. Same planted construction as m05 — pairs
    // and clusters come from the ONE memoized media artifact, so the
    // pair set and the drop set can never drift.
    "m07_perceptual_dedup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMediaTable(docs(s, dir))
      val planted = graft.multimodal.Multimodal.reencodeStub(
        media.filter(col("doc_id") < 40), shift = 1, idOffset = 100000L)
      val pop = media.unionByName(planted).toDF().select(col("doc_id"))
      graft.multimodal.Multimodal.perceptualDedupApplyFromClusters(
        pop, "doc_id", mediaPairsAndClusters(s, dir)._2)
    }),


    // m08: perceptual NEAR-dup pairs — the Hamming-tolerant matcher the
    // exact m05 fingerprint equality cannot be: LOSSY planted re-encodes
    // (+300000 ids, one byte per frame bumped — flips ≤ 2 dHash bits per
    // frame) still pair with their originals through the 4x16-bit
    // banding + popcount verify. Byte-vs-char coupling: the oracle bumps
    // CHARS; equal on the ASCII corpus (the m04 assumption, asserted).
    "m08_perceptual_near" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val media = M.asMediaTable(docs(s, dir))
      val planted = M.reencodeLossyStub(
        media.filter(col("doc_id") < 40), idOffset = 300000L)
      val frames = M.sampleFrames(media.unionByName(planted),
        frameBytes = 64, stride = 4).toDF()
        .select(col("doc_id"),
          graft.functions.DHash64.dhash64(col("frame")).as("fp"))
      M.frameNearOverlap(frames, "doc_id", "fp",
        maxHamming = 3, maxBandDocs = 16)
    }),


    // ---- multimodal (binary payload metadata; decode is stubbed) ----------
    "m01_binary_meta" -> ((s, dir) => {
      val media = encode(col("text"), "UTF-8")
      docs(s, dir).select(
        col("doc_id"),
        length(media).cast("long").as("byte_len"),
        sha2(media, 256).as("sha"))
    }),


    // Per-source binary storage accounting (the capacity-planning query of
    // a multimodal corpus): payload volume, largest object, and the
    // share of oversized payloads, in one map-side-partial aggregate.
    "m03_payload_stats" -> ((s, dir) => {
      val media = encode(col("text"), "UTF-8")
      docs(s, dir)
        .select(col("source"), length(media).cast("long").as("bytes"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bytes")).as("total_bytes"),
          max(col("bytes")).as("max_bytes"),
          sum(when(col("bytes") > 1024, 1L).otherwise(0L)).as("n_over_1k"))
    }),


    // Frame sampling over the binary media table: every 4th 64-byte chunk,
    // one output row per sampled frame (the explode-shaped demux contract).
    // Frames are reported by md5 so the oracle can compare payload bytes as
    // scalars (the corpus is ASCII, so DuckDB's character substr sees the
    // same bytes Spark slices).
    "m02_frame_sample" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMediaTable(docs(s, dir))
      graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("frame")).as("frame_md5"))
    }),


    // Cross-media copy detection: media pairs sharing sampled-frame
    // fingerprints (m02's demux + the dedup family's hash-equi-join
    // discipline; boilerplate frames capped out before the self-join).
    "m04_frame_overlap" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.asMediaTable(docs(s, dir))
      val frames = graft.multimodal.Multimodal
        .sampleFrames(media, frameBytes = 64, stride = 4).toDF()
        .select(col("doc_id"), md5(col("frame")).as("frame_md5"))
      graft.multimodal.Multimodal.frameOverlap(frames, "doc_id", "frame_md5")
    }),


    // ---- REAL codec rows (round 14): the decode stub retired ------------
    // m09: every doc rendered as a genuine 24-bit BMP (25x16, BGR,
    // bottom-up, 4-byte row padding), then DECODED back — header dims,
    // encoder size arithmetic, channel sums, a position-weighted green
    // sum (sum-invariant to row-order bugs; the weight is not) and the
    // 63-bit blue-gradient fingerprint all derive from decoded pixels.
    // The oracle computes the same features from the text-domain pixel
    // rule, so any codec infidelity (BGR order, padding, bottom-up flip,
    // LE header parse) hash-mismatches.
    "m09_bmp_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedImageMeta(M.renderBmpTable(
        docs(s, dir).filter(length(col("text")) >= 1),
        width = 25, height = 16)).toDF()
    }),


    // m10: every doc rendered as a genuine RIFF/WAVE PCM-16 payload
    // (per-doc sample rate in the fmt chunk; even ids carry an odd-sized
    // JUNK chunk so the decoder's chunk walk + pad byte are load-bearing
    // on half the corpus), then DECODED — rate/channels/sample-count from
    // the headers, sum/zero-crossings/exact energy from the samples.
    "m10_wav_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedAudioMeta(M.renderWavTable(
        docs(s, dir).filter(length(col("text")) >= 1))).toDF()
    }),


    // m12: the CLASSIC 2-D difference hash over decoded pixels — 8x8
    // nearest-neighbor luminance grid (R+G+B sum), 7 horizontal
    // comparisons x 8 rows = 56 bits. Consumes the full decoded 2-D
    // geometry and all three channels, so a codec bug ANYWHERE in the
    // image (row order, channel order, padding, palette) surfaces —
    // m09's 1-D fingerprint only reads the first 64 blue values.
    "m12_bmp_dhash" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedDHash(M.renderBmpTable(
        docs(s, dir).filter(length(col("text")) >= 1),
        width = 25, height = 16))
    }),


    // m13: the m06 energy gate over GENUINELY DECODED audio — every doc's
    // WAV is decoded, the sample stream sliced into 64-sample windows
    // re-emitted as little-endian byte frames, and frameEnergyFilter runs
    // UNCHANGED over them. Planted digital silence (all-zero samples,
    // ids +500000 for doc_id < 30) scores exactly 0 per window and drops
    // to live_bp = 0; real sample windows clear the threshold.
    "m13_wav_energy" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      import s.implicits._
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val media = M.renderWavTable(base)
      val silent = base.filter(col("doc_id") < 30)
        .select(col("doc_id")).as[Long]
        .map { id =>
          M.MediaRow(id + 500000L,
            graft.multimodal.Codecs.encodeWav(
              graft.multimodal.Codecs.Pcm(8000, 1, new Array[Short](256))),
            "audio/wav")
        }
      val frames = M.decodedPcmWindows(media.unionByName(silent)).toDF()
      val allCnt = frames.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      val liveCnt = M.frameEnergyFilter(frames, minVariance = 4L)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_live"))
      allCnt.join(liveCnt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_live"), lit(0L)).as("n_live"))
        .withColumn("live_bp", expr("n_live * 10000 DIV n_frames"))
    }),


    // m11: perceptual dedup over DECODED pixels — docs < 40 are planted
    // again as TOP-DOWN BMPs (negative height: byte-different, equally
    // valid, pixel-identical), all media decoded, per-image-row blue
    // gradient fingerprints joined through the capped frameOverlap. The
    // planted variants pair with their originals iff BOTH row orders
    // decode to the same pixel grid — the decoded-domain analogue of
    // m05's monotone-remap invariance.
    "m11_bmp_variant_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val orig = M.renderBmpTable(base, width = 25, height = 16)
      val variants = M.renderBmpTable(base.filter(col("doc_id") < 40),
        width = 25, height = 16, topDown = true, idOffset = 400000L)
      val frames = M.decodedRowFingerprints(orig.unionByName(variants))
      M.frameOverlap(frames, "doc_id", "row_fp", maxFrameDocs = 16)
    }),


    // m14 (round 15, widened round 16): every doc rendered as a REAL
    // compressed PNG — zlib IDAT (split in two chunks), per-chunk CRC-32,
    // scanlines cycling all five filter types — across ALL FOUR supported
    // color types by doc_id mod 4 (RGBA 6 / RGB 2 / PALETTE 3 via a PLTE
    // chunk / GRAYSCALE 0: the real-web admission mix) — then DECODED:
    // color type + channels from the parsed IHDR, blue sum and the full
    // 2-D dHash from inflated+unfiltered (and palette-looked-up /
    // gray-replicated) pixels. The oracle recomputes the features from
    // the per-class text-domain pixel rules, so an inflate, filter,
    // PLTE-lookup, or header-parse bug hash-mismatches.
    "m14_png_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedPngMeta(M.renderPngTableMixed(
        docs(s, dir).filter(length(col("text")) >= 1),
        width = 25, height = 16)).toDF()
    }),


    // m15 (round 15): CROSS-codec dedup over decoded pixels — the corpus
    // as uncompressed BMPs, docs < 40 planted AGAIN as compressed PNGs
    // (byte-disjoint containers: different magic, different pixel layout,
    // zlib in between), all decoded through the magic dispatch to the
    // same pixel grid, per-image-row fingerprints pairing each PNG with
    // its BMP original through the capped frameOverlap. The m11 claim
    // upgraded from "two BMP row orders" to "two unrelated containers".
    "m15_cross_codec_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val bmps = M.renderBmpTable(base, width = 25, height = 16)
      val pngs = M.renderPngTable(base.filter(col("doc_id") < 40),
        width = 25, height = 16, idOffset = 600000L, spread = false)
      val frames = M.decodedRowFingerprints(bmps.unionByName(pngs))
      M.frameOverlap(frames, "doc_id", "row_fp", maxFrameDocs = 16)
    }),


    // m16 (round 15): the LOSSY audio codec path — every doc's textPcm
    // samples folded through G.711 μ-law (8-bit codes, format tag 7,
    // 18-byte fmt + spec-required fact chunk), then DECODED back to
    // 16-bit linear. All features read the QUANTIZED samples, so the
    // oracle recomputes the identical integer compress→expand round trip
    // in SQL: a companding bias/segment/mantissa error anywhere — or a
    // decoder that shortcuts to the original samples — hash-mismatches
    // (m10's exact-PCM sums differ from these by construction).
    "m16_mulaw_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedAudioMeta(M.renderMulawWavTable(
        docs(s, dir).filter(length(col("text")) >= 1))).toDF()
    }),


    // m32 (round 17): CROSS-CODEC AUDIO variant dedup — the m20 tolerant
    // perceptual match brought to the audio family (images had
    // m11/m15/m18/m20/m25/m29, video m31, audio nothing): docs < 40
    // planted again as μ-LAW re-encodes (byte-different files, DIFFERENT
    // decoded samples — genuinely lossy companding), candidates through
    // the window-energy GRADIENT fingerprint (15 adjacent-window
    // orderings over 16-sample windows — the dhash idea in 1-D, computed
    // on DECODED samples so it is codec-blind), bucket fan-out capped
    // (2..16, the m20 discipline), verdict = max per-window energy
    // deviation ≤ 700 bp. Every quantity is exact integer arithmetic
    // DuckDB recomputes through the m16 companding chain, so the pair
    // set is deterministic even though the match itself is tolerant.
    // m33 (round 17): INGEST-time audio-dup flagging — the d13/d21
    // delta-vs-corpus shape for the audio family (and the batch twin of
    // EventStreams.audioProbeStream, proven stream==batch in
    // StreamingSpec): the corpus (%10 ≠ 7 docs as PCM16) stands as a
    // fingerprint table; arrivals are μ-LAW RE-ENCODES of corpus docs
    // < 40 (+700000 — a re-encoded upload of content the lake already
    // holds, the case ingest dedup exists for) probed by fp equi-join —
    // bounded by the delta, never corpus² — and verified by the m32
    // deviation bound. An arrival flags its OWN source (and any
    // exact-text twin of it) deterministically; both engines recompute
    // every integer.
    "m33_ingest_audio_flag" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val corpus = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      // the standing corpus fingerprint table is the memoized per-dir
      // artifact (fingerprints are per-doc pure, so slicing the corpus
      // out of the full-base table equals building it from the slice);
      // only the ARRIVING delta renders + decodes per run
      val corpusFp = M.memoizedWavFingerprints(base, dir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val deltaFp = M.decodedAudioFingerprints(
        M.renderMulawWavTable(corpus.filter(col("doc_id") < 40),
          idOffset = 700000L))
      M.audioFpProbe(deltaFp, corpusFp, maxDevBp = 700L)
    }),


    // m35 (round 18): INGEST-time VIDEO-dup flagging — the m33 shape for
    // the video family, closing the last per-modality ingest asymmetry
    // (and the batch twin of EventStreams.videoProbeStream, proven
    // stream==batch in StreamingSpec): the whole corpus stands as the
    // (doc_id, n_frames, fp) sampled-sequence fingerprint table —
    // aggregated off the SAME memoized avi_meta artifact m30/m31 read;
    // arrivals are RE-UPLOADS of the %10 = 7 docs' videos (re-rendered
    // identically, re-id'd +500000 — content the lake already holds, the
    // case ingest dedup exists for), fingerprinted scan-side through the
    // videoFingerprintOf kernel (skipped frames never decode) and probed
    // by (n_frames, fp) equi-join — bounded by the delta, never corpus².
    // Each arrival flags its own source (and any exact-fp twin of it);
    // the oracle recomputes every sampled frame's closed-form dHash on
    // both sides, so a kernel/aggregate drift, sampler slip, or join
    // geometry bug hash-mismatches.
    "m35_ingest_video_flag" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      import s.implicits._
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val corpusFp = M.aviMetaFingerprints(
        M.memoizedAviFrameMeta(base, dir).toDF())
      // render from the ORIGINAL ids (identical frames), re-id after —
      // the +500000 offset is even, so the re-upload keeps the render's
      // codec parity and decodes identically
      // spread = true (round 19, the r18 ADVICE): unlike the bounded
      // doc_id < 40 plants at the other spread = false sites, this delta
      // is pmod 10 — 10% of the corpus, growing with scale — so its AVI
      // encode must parallelize. Interleaved A/B at sf0.1 after the
      // artifact-layout fix: 0.51 s unspread vs 0.54 s spread (inside
      // noise; the r18 penalty that motivated the opt-out is gone).
      val delta = M.renderAviTable(
          base.filter(pmod(col("doc_id"), lit(10)) === 7))
        .map(r => r.copy(doc_id = r.doc_id + 500000L))
      M.videoFpProbe(M.decodedVideoFingerprints(delta, stride = 2), corpusFp)
    }),


    // m36 (round 18): ingest-time TOLERANT video-dup flagging — m34's
    // cross-codec discipline in the m33/m35 delta-vs-corpus shape (and
    // the batch twin of EventStreams.videoBandProbeStream, proven
    // stream==batch in StreamingSpec). m35's exact-fp probe is blind to
    // a LOSSY re-upload (an MJPEG re-encode of a DIB video — different
    // decoded pixels), the dominant real-corpus video-dup class;
    // arrivals here are exactly that plant (odd docs < 40 re-encoded
    // MJPEG at +1100001), their SAMPLED frames band-probe the standing
    // corpus frame artifact (4 × 14-bit bands per frame, hot buckets
    // capped ≤ 16 on BOTH sides — fan-out bounded by the delta plus
    // collisions, never corpus²), and candidates verify over the full
    // sampled-sequence join: n_frames equal, max per-frame Hamming ≤ 4.
    // The oracle recomputes both quantized pixel domains and the capped
    // band probe exactly, so the tolerant pair set is deterministic.
    "m36_ingest_video_variant_flag" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val corpusMeta = M.memoizedAviFrameMeta(base, dir).toDF()
        .select(col("doc_id"), col("n_frames"), col("frame_idx"),
          col("dhash"))
      val deltaMeta = M.decodedAviFrameMeta(
          M.renderAviMjpegVariantTable(
            base.filter(col("doc_id") < 40 &&
              pmod(col("doc_id"), lit(2)) === 1),
            idOffset = 1100001L, spread = false), stride = 2).toDF()
        .select(col("doc_id"), col("n_frames"), col("frame_idx"),
          col("dhash"))
        .localCheckpoint()
      M.videoBandProbe(deltaMeta, corpusMeta)
    }),


    // m37 (round 18): the MEDIA admission pipeline — p24's composable
    // chain over BINARY payloads, the cross-modality capstone: the m27
    // ten-class mix runs decode-gate → audio-dup → video-dup through
    // AdmissionPipeline with sequential semantics and the m27 report on
    // top. Stage 1 is the SAME gate transform the streaming ingest runs
    // (every payload genuinely decoded, AVI frames included; the three
    // planted rejection classes drop by their deterministic reasons).
    // Stage 2 probes admitted AUDIO against the standing corpus
    // fingerprint table: the float-WAV class decodes LOSSLESSLY to the
    // same samples as the corpus PCM16 render (the m26-pinned
    // equality), so a CORRECT engine flags every one as a re-upload —
    // the oracle pins the class dropped, the m29 convention. Stage 3
    // probes admitted VIDEO against the m31 fingerprint table: the
    // 2-frame MJPEG mix AVI matches corpus videos with n_frames = 2 and
    // an equal sampled fp — a parity-dependent, text-dependent set both
    // engines recompute exactly (quantized arrival vs parity-domain
    // corpus), so SOME class-9 docs drop and some admit. Stages are
    // stateless; each probe is bounded by its modality's slice of the
    // batch, never corpus².
    "m37_media_admission_pipeline" -> ((s, dir) => {
      import graft.streaming.AdmissionPipeline
      import graft.streaming.AdmissionPipeline.Stage
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val media = M.renderAdmissionMixTable(base).toDF()
      // the standing corpus audio fingerprint table — the memoized
      // per-dir artifact (m33's probe table; rebuilt it per run before)
      val audioCorpusFp = M.memoizedWavFingerprints(base, dir)
      val videoCorpusFp = M.aviMetaFingerprints(
        M.memoizedAviFrameMeta(base, dir).toDF())
      // ONE decode pass (round 19, guide §1.2/§5): the gate verdict AND
      // the per-modality dup fingerprints come out of the same decoded
      // payload (admissionFeaturesOf, the kernel the stream gate also
      // runs), so the stages below are column ops + bounded probes over
      // NARROW feature rows — the round-18 shape re-decoded admitted
      // audio/video per stage and checkpointed the binary payloads three
      // times over. The gate becomes a rowLocal stage (zero joins); the
      // dup probes read the precomputed fingerprints. Same verdicts row
      // for row (fingerprints are per-doc pure), oracle hash-exact.
      val feats = M.admissionMediaFeatures(media)
      val stages = Seq(
        Stage.rowLocal("decode", col("gate_admit"), col("gate_reason")),
        Stage.verdict("audio_dup", "doc_id") { df =>
          val flagged = M.audioFpProbe(
              df.filter(col("format").startsWith("audio/"))
                .select(col("doc_id"), col("afp").as("fp"),
                  col("aenergies").as("energies")),
              audioCorpusFp, maxDevBp = 700L)
            .select(col("new_id").as("doc_id")).distinct()
            .withColumn("__dup", lit(1))
          df.select(col("doc_id")).join(flagged, Seq("doc_id"), "left")
            .select(col("doc_id"), col("__dup").isNull.as("admit"),
              when(col("__dup").isNull, lit(""))
                .otherwise(lit("duplicate audio content already in corpus"))
                .as("reason"))
        },
        Stage.verdict("video_dup", "doc_id") { df =>
          val flagged = M.videoFpProbe(
              df.filter(col("format").startsWith("video/avi"))
                .select(col("doc_id"), col("vn_frames").as("n_frames"),
                  col("vfp").as("fp")),
              videoCorpusFp)
            .select(col("new_id").as("doc_id")).distinct()
            .withColumn("__dup", lit(1))
          df.select(col("doc_id")).join(flagged, Seq("doc_id"), "left")
            .select(col("doc_id"), col("__dup").isNull.as("admit"),
              when(col("__dup").isNull, lit(""))
                .otherwise(lit("duplicate video content already in corpus"))
                .as("reason"))
        })
      AdmissionPipeline.report(AdmissionPipeline.run(feats, stages))
    }),


    "m32_audio_variant_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      // corpus PCM16 half reads the memoized standing fingerprint table;
      // only the planted μ-law variants render + decode per run.
      // decode once, join twice: the (doc_id, fp, 16 longs) table is tiny
      val h = M.memoizedWavFingerprints(base, dir).unionByName(
        M.decodedAudioFingerprints(
          M.renderMulawWavTable(base.filter(col("doc_id") < 40),
            idOffset = 600000L))).localCheckpoint()
      val keep = h.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
        .filter(col("__n").between(2, 16)).select(col("fp"))
      val k = h.join(keep, Seq("fp"))
      k.as("a").join(k.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.fp").as("fp"),
          expr("array_max(zip_with(a.energies, b.energies, " +
            "(x, y) -> abs(x - y) * 10000L DIV greatest(x, y, 1L)))")
            .as("max_dev_bp"))
        .filter(col("max_dev_bp") <= 700)
    }),


    // m26 (round 16): the remaining common WAV format tags — even docs
    // as IEEE FLOAT 32 (tag 3: each sample the exact dyadic s/32768, so
    // decode-rescale is LOSSLESS and the features equal the m10 rule),
    // odd docs as 8-BIT PCM (tag 1, bits 8: unsigned top-byte codes,
    // decoded samples the closed form 512·(byte − 96) — the i mod 256
    // dither quantizes away, so m26's odd sums differ from m10/m16/m24
    // by construction and a bit-depth or signedness bug hash-mismatches).
    // JUNK chunks ride ids divisible by 3, decorrelated from the format
    // parity so both new fmt layouts exercise the chunk walk.
    "m26_wav_variants" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedAudioMeta(M.renderWavVariantsTable(
        docs(s, dir).filter(length(col("text")) >= 1))).toDF()
    }),


    // m27 (round 16): the corpus-level ADMISSION REPORT — the deployment
    // answer to "what fraction of a mixed media corpus does the gate
    // admit, and why does the rest drop?". The mix plants one class per
    // decode family (incl. every round-16 form — palette PNG, 4:2:0 JPEG,
    // float WAV, PROGRESSIVE 4:2:0 JPEG — and round 17's MJPEG AVI, so
    // the gate covers images + audio + video) plus three rejection
    // classes with DETERMINISTIC reasons (fixed-prefix truncation, a
    // 12-bit precision flip, unknown magic);
    // every payload is GENUINELY decoded by the same gate the streaming
    // ingest runs (EventStreams.mediaDecodeGateStream — batch and stream
    // share the transform; the AVI class decodes every frame), then one
    // hash aggregate per (kind, admit, reason) with integer-bp corpus
    // shares. Decode is map-only scan-side; the aggregate output is 9
    // rows.
    "m27_admission_report" -> ((s, dir) =>
      admissionReport(docs(s, dir).filter(length(col("text")) >= 1))),


    // m28 (round 16): PROGRESSIVE JPEG (SOF2) — every doc re-encoded
    // through spectral-selection scans (one interleaved DC scan, then
    // one AC scan per component, §G.1), even doc_ids ALSO
    // 4:2:0-subsampled (the combination real web encoders emit), then
    // DECODED through the multi-scan coefficient-store path: the SOF2
    // flag and sampling factors are engine-REQUIRED, chroma must come
    // back exactly neutral, gray_sum/dhash read the assembled pixels.
    // Flat blocks make a progressive decode land on the SAME closed-form
    // pixels as the sequential m19 encode, so the oracle recomputes the
    // whole thing in SQL — a scan-sequencing, EOB-run, band, or
    // coefficient-assembly bug anywhere hash-mismatches.
    // m30 (round 17): VIDEO — every doc rendered as a REAL MJPEG AVI
    // (full RIFF form: MainAVIHeader, vids/MJPG stream headers, the movi
    // '00dc' list, idx1; F = 2 + doc_id mod 3 frames, each frame a
    // different image via the m21 rotate-by-7f rule), then the frame
    // SAMPLER keeps every 2nd frame — one row per kept frame with the
    // container facts (header frame count, 40 000 µs/frame) and decoded
    // JPEG pixel features. The flat-block payload keeps the m19 closed
    // form per frame, so the oracle recomputes the whole walk in SQL: a
    // chunk-walk slip, header misparse, frame-order slip, or a decode
    // error on ANY sampled frame hash-mismatches. Skipped frames never
    // JPEG-decode — sampling cost is per KEPT frame, the shape that
    // matters when video dominates a 100 TB corpus.
    "m30_avi_frame_sample" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      // the stride-2 frame meta is a memoized per-(session, dir) artifact
      // (the jpeg_meta pattern): m30 reads it verbatim, m31 aggregates
      // the SAME rows — render + sample once, consume many
      M.memoizedAviFrameMeta(
        docs(s, dir).filter(length(col("text")) >= 1), dir).toDF()
    }),


    // m31 (round 17): VIDEO-level dedup — the d01 exact-dedup shape keyed
    // on a SAMPLED-SEQUENCE fingerprint: each video's stride-2 frames
    // (the m30 sampler — skipped frames never decode, the only honest
    // cost shape when video dominates a 100 TB corpus) hash to the
    // ordered csv of their decoded-domain dHashes, grouped with the
    // header frame count. Videos agreeing on (n_frames, fingerprint)
    // collapse to the lowest-id keeper — the production video-dedup
    // recipe (sampled-frame fingerprints, never full-stream compare),
    // and at scale a plain hash aggregate on a tiny derived key. The
    // oracle recomputes every sampled frame's closed-form dHash and the
    // same grouping, so a frame-order slip, a sampler drift, or a
    // container misparse changes fingerprints and hash-mismatches.
    "m31_video_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.memoizedAviFrameMeta(
          docs(s, dir).filter(length(col("text")) >= 1), dir).toDF()
        .groupBy(col("doc_id"), col("n_frames"))
        .agg(concat_ws(",", transform(
          array_sort(collect_list(struct(col("frame_idx"), col("dhash")))),
          f => f.getField("dhash").cast("string"))).as("fp"))
        .groupBy(col("n_frames"), col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dup_count"))
    }),


    // m34 (round 18): CROSS-CODEC VIDEO variant dedup — the m20/m32
    // tolerant discipline brought to the video family. m31's exact
    // sampled-sequence fingerprint collapses only decoded-identical
    // videos; the dominant real-corpus video-dup class is a LOSSY
    // re-encode (an MJPEG upload of a video the lake holds as
    // uncompressed DIB: byte-different files, DIFFERENT decoded pixels —
    // JPEG quantization genuinely moves them). Plant: odd corpus docs
    // < 40 (the DIB half) re-encoded frame-for-frame as MJPEG at offset
    // 1000001 (odd, so the variant id's parity satisfies the decoder's
    // codec-parity rule). Candidates: 4 × 14-bit LSH bands over each
    // SAMPLED frame's decoded-domain dHash, census-capped 2..16 per
    // (frame_idx, band, bucket) — one clean band on ANY shared frame
    // nominates the pair, so per-frame quantization flips can't hide a
    // dup, and fan-out stays bounded. Verdict: n_frames equal AND max
    // per-sampled-frame Hamming ≤ 4 over the FULL sequence join (the
    // pair must look alike on every sampled frame, not just the
    // nominating one). Both engines recompute both quantized pixel
    // domains exactly (DIB raw v; MJPEG 2·⌊(v+1)/2⌋), so the pair set
    // is deterministic even though the match is tolerant. At 100 TB:
    // candidates and verdicts run over the tiny (doc_id, frame_idx,
    // dhash) table — the corpus half rides the SAME memoized stride-2
    // artifact m30/m31 read, payload bytes never shuffle.
    "m34_video_variant_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val variants = M.renderAviMjpegVariantTable(
        base.filter(col("doc_id") < 40 &&
          pmod(col("doc_id"), lit(2)) === 1),
        idOffset = 1000001L, spread = false)
      val h = M.memoizedAviFrameMeta(base, dir).toDF()
        .select(col("doc_id"), col("n_frames"), col("frame_idx"),
          col("dhash"))
        .unionByName(M.decodedAviFrameMeta(variants, stride = 2).toDF()
          .select(col("doc_id"), col("n_frames"), col("frame_idx"),
            col("dhash")))
        .localCheckpoint()
      aviFrameBandPairs(h)
    }),


    "m28_progressive_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedProgressiveMeta(M.renderProgressiveJpegTable(
        docs(s, dir).filter(length(col("text")) >= 1))).toDF()
    }),


    // m17 (round 15): the third image container — every doc rendered as a
    // REAL GIF89a (LZW-compressed indices through GIF's LSB-first
    // variable-width code packing, 128-entry global color table, a
    // Graphic Control Extension before the image block, even doc_ids
    // INTERLACED), then DECODED: dims + palette size + interlace flag
    // from the parsed headers, blue sum and the first-64-blue gradient
    // fingerprint from LZW-decoded, de-interlaced, palette-looked-up
    // pixels. The oracle recomputes the features from the text rule, so
    // an LZW, code-width, interlace, or palette bug hash-mismatches (the
    // fingerprint spans rows 0-2, which interlacing permutes).
    "m17_gif_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedGifMeta(M.renderGifTable(
        docs(s, dir).filter(length(col("text")) >= 1),
        width = 25, height = 16)).toDF()
    }),


    // m18 (round 15): TRI-codec dedup — the corpus as uncompressed BMPs,
    // docs < 40 planted AGAIN as LZW-compressed GIFs whose palette maps
    // index k to blue k (so the GIF's decoded blue channel equals the
    // BMP's), all decoded through the magic dispatch, per-image-row blue
    // fingerprints pairing each GIF with its BMP original through the
    // capped frameOverlap. With m15 (BMP↔PNG) this closes the triangle:
    // three containers, three compression families, one decoded domain.
    "m18_tri_codec_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val bmps = M.renderBmpTable(base, width = 25, height = 16)
      val gifs = M.renderGifTable(base.filter(col("doc_id") < 40),
        width = 25, height = 16, idOffset = 700000L, spread = false)
      val frames = M.decodedRowFingerprints(bmps.unionByName(gifs))
      M.frameOverlap(frames, "doc_id", "row_fp", maxFrameDocs = 16)
    }),


    // m19 (round 15): the LOSSY image codec — every doc rendered as a
    // REAL baseline JPEG (ITU-T T.81: Annex K tables, Huffman, zigzag,
    // byte stuffing, YCbCr 4:4:4, even doc_ids carrying DRI=2 restart
    // markers), then DECODED: dims + component count from SOF0, the
    // restart interval from DRI, gray sum and the 2-D dHash from
    // dequantized+IDCT'd pixels. The pixel payload is flat 8×8 blocks
    // (gray v(b) = byte(b mod L)), which makes every AC coefficient
    // exactly 0 and the decoded value the closed integer form
    // 2·⌊(v+1)/2⌋ the oracle recomputes — a Huffman, zigzag, quantizer,
    // IDCT, or chroma bug anywhere hash-mismatches (and the engine
    // additionally REQUIRES the decoded chroma exactly neutral).
    "m19_jpeg_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.memoizedJpegMeta(
        docs(s, dir).filter(length(col("text")) >= 1), dir).toDF()
    }),


    // m29 (round 17): EXIF ORIENTATION normalization — every doc planted
    // again as a rotated/flipped re-encode (stored pixels pre-transformed
    // by the inverse of o = 2 + doc_id mod 7, the tag carried in a real
    // APP1 Exif TIFF), then paired with its original through the
    // orientation-NORMALIZED decoded-domain dHash. The flat-block square
    // payload makes the lossy round trip commute with the transform, so a
    // correct APP1 walk + §4.6.4 transform reproduces the original's
    // pixels EXACTLY and the oracle pins paired = 1 per doc; the decode
    // additionally REQUIRES the tag value, so a decoder that skipped the
    // EXIF walk (orientation 1) fails loudly rather than matching
    // vacuously. Pinned per-variant (no cross-corpus dhash join): natural
    // duplicate docs share hashes, so the claim is anchored to each
    // variant's OWN original.
    "m29_exif_orientation_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val vh = M.decodedOrientedDHash(
          M.renderOrientedJpegTable(base, idOffset = 1000000L),
          idOffset = 1000000L).toDF()
        .select((col("doc_id") - 1000000L).as("orig_id"),
          col("doc_id").as("var_id"), col("orientation"),
          col("dhash").as("var_dhash"))
      val bh = M.memoizedJpegMeta(base, dir).toDF()
        .select(col("doc_id").as("orig_id"), col("dhash").as("base_dhash"))
      vh.join(bh, Seq("orig_id"))
        .select(col("orig_id"), col("var_id"), col("orientation"),
          (col("var_dhash") === col("base_dhash")).cast("long").as("paired"))
    }),


    // m20 (round 15): LOSSY-variant near-dup — the corpus at quantizer
    // scale 1, docs < 40 planted AGAIN at scale 2 (byte-different files,
    // DIFFERENT decoded pixels — a genuinely lossy re-encode, unlike
    // m11/m15/m18's pixel-identical containers), candidate pairs through
    // 4 × 14-bit LSH bands over the 56-bit decoded-domain dHash (bucket
    // fan-out capped, the s-family discipline), verdict = Hamming ≤ 4
    // over the full hash. Both engines compute both quantized pixel
    // domains exactly, so the pair set is deterministic even though the
    // match itself is approximate — the first TOLERANT perceptual match
    // in the family (m18's exact equality is the degenerate case).
    "m20_lossy_variant_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      // Scale-1 hashes come from the SAME memoized artifact m19 reads
      // (render+decode the corpus once per session+dir); only the ≤40
      // scale-2 variants render fresh. The union is then checkpointed
      // ONCE so the bucket census and both self-join branches read the
      // tiny (doc_id, dhash) table instead of replaying decode lineage.
      val q2 = M.renderJpegTable(base.filter(col("doc_id") < 40),
        qscale = 2, idOffset = 800000L, spread = false)
      val h = M.memoizedJpegMeta(base, dir).toDF()
        .select(col("doc_id"), col("dhash"))
        .unionByName(M.decodedDHash(q2).select(col("doc_id"), col("dhash")))
        .localCheckpoint()
      dhashBandPairs(h)
    }),


    // m25 (round 16): CHROMA-SUBSAMPLED variant dedup — docs < 40
    // re-encoded as REAL 4:2:0 JPEGs (2×2 luma sampling factors in the
    // SOF, the 6-unit interleaved MCU walk, chroma planes at quarter
    // resolution: the dominant camera/web JPEG form) and paired with
    // their 4:4:4 originals through the decoded-domain dHash + the m20
    // LSH band machinery. The flat-block payload makes the chroma
    // box-average exact, so a CORRECT subsampled decode reproduces the
    // 4:4:4 pixels bit-for-bit (JpegSpec pins that closed form) and the
    // planted pairs land at Hamming 0 — while the engine additionally
    // REQUIRES the decoded SOF factors to be 2×2, so a silent 4:4:4
    // fallback anywhere fails loudly instead of matching vacuously.
    "m25_subsampled_dedup" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      val base = docs(s, dir).filter(length(col("text")) >= 1)
      val q420 = M.renderJpegTable(base.filter(col("doc_id") < 40),
        qscale = 1, idOffset = 900000L, lumaH = 2, lumaV = 2,
        spread = false)
      val h = M.memoizedJpegMeta(base, dir).toDF()
        .select(col("doc_id"), col("dhash"))
        .unionByName(M.decodedSampledDHash(q420, 2, 2))
        .localCheckpoint()
      dhashBandPairs(h)
    }),


    // m21 (round 15): the FRAME-SAMPLE verb over a real multi-frame
    // container — every doc rendered as an ANIMATED GIF89a (3–5 frames,
    // each frame a DIFFERENT image via a per-frame rotation of the index
    // rule, per-frame delays in Graphic Control Extensions, interlace
    // alternating WITHIN one file, a NETSCAPE2.0 loop extension), then
    // the sampler decodes the animation and keeps every 2nd frame — one
    // row per kept frame with header facts (frame count, loops, delay,
    // interlace flag) and decoded-pixel features. A GCE-delay parse bug,
    // a loop-extension miss, a frame-order slip, or a de-interlace error
    // on ANY single frame hash-mismatches.
    "m21_gif_frame_sample" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.sampleGifFrames(M.renderGifAnimTable(
        docs(s, dir).filter(length(col("text")) >= 1),
        width = 25, height = 16), stride = 2).toDF()
    }),


    // m22 (round 15): the RESIZE verb over decoded pixels — each doc's
    // BMP decoded, then (a) integer BOX-AVERAGE downsample 25×16 → 5×4
    // (exact 5×4 tiles, ⌊Σ/20⌋ per channel) and (b) NEAREST-NEIGHBOR
    // resample to 8×8; blue sum + gradient fingerprint from EACH resized
    // grid. The oracle recomputes both geometries from the text rule, so
    // a tile-boundary, rounding, or index-mapping bug hash-mismatches.
    "m22_resize" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.resizedImageMeta(M.renderBmpTable(
        docs(s, dir).filter(length(col("text")) >= 1),
        width = 25, height = 16), boxW = 5, boxH = 4, nnW = 8, nnH = 8).toDF()
    }),


    // m23 (round 15): the audio RESAMPLE verb — every doc's real WAV
    // decoded (even doc_ids through the JUNK chunk walk), then integer
    // box decimation ×4 (256 → 64 samples, 8–12 kHz → 2–3 kHz, the
    // decoded fmt rate divided back out); features read the RESAMPLED
    // signal: sum, sign changes, gradient fingerprint. Floor division
    // on negative sums is the cross-engine convention (Math.floorDiv ↔
    // floor(x/4.0)).
    "m23_audio_resample" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.resampledAudioMeta(M.renderWavTable(
        docs(s, dir).filter(length(col("text")) >= 1)), factor = 4).toDF()
    }),


    // m24 (round 15): G.711's OTHER companding law — every doc's textPcm
    // folded through A-law (format tag 6: 13-bit magnitude, the
    // 0x1F/0x3F/…/0xFFF segment table, segments 0 AND 1 sharing the >>1
    // mantissa rule, the alternating 0xD5/0x55 mask), decoded back, and
    // featured on the QUANTIZED samples. The oracle recomputes the
    // integer compress→expand round trip; A-law quantizes DIFFERENTLY
    // from μ-law (e.g. silence → +8, not 0), so m24's sums differ from
    // both m10's exact and m16's μ-law sums by construction.
    "m24_alaw_decode" -> ((s, dir) => {
      val M = graft.multimodal.Multimodal
      M.decodedAudioMeta(M.renderAlawWavTable(
        docs(s, dir).filter(length(col("text")) >= 1))).toDF()
    }),
  )

  /** m27's plan over a non-empty-text docs frame: every payload of the
    * rendered admission mix through the decode gate, one row per (kind,
    * admit, reason) with its integer-bp share. The catalog runs it on
    * `documents`, the stress harness on its replicated corpus. */
  private[graft] def admissionReport(base: DataFrame): DataFrame = {
    val M = graft.multimodal.Multimodal
    val media = M.renderAdmissionMixTable(base).toDF()
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val gated = graft.streaming.EventStreams
      .mediaDecodeGateStream(media, "doc_id", "media", "ts")
    val g = gated.groupBy(col("kind"), col("admit"), col("reason"))
      .agg(count(lit(1)).as("n_docs"))
    // total via a bounded unpartitioned window over the ≤10-row report
    // frame (round 19): the former crossJoin(broadcast(g.agg)) carried
    // the whole render+decode subplan a SECOND time inside the total's
    // broadcast (structurally; AQE stage reuse usually dedupes it at
    // runtime, but the single-evaluation shape shouldn't depend on a
    // runtime optimization firing).
    g.withColumn("__tot", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("share_bp",
        expr("CAST(n_docs * 10000 DIV __tot AS BIGINT)"))
      .drop("__tot")
  }

  /** The m34 sequence-banded pair machinery over a (doc_id, n_frames,
    * frame_idx, dhash) sampled-frame table: candidates through the m20
    * band recipe applied PER FRAME (4 × 14-bit bands, census capped 2..16
    * per (frame_idx, band, bucket) — any shared frame with one clean band
    * nominates), verdict = n_frames equality + max Hamming ≤ 4 across the
    * full sampled-sequence join. The verdict join is bounded by
    * |candidates| × frames-per-video; every table is a tiny derived key. */
  private[graft] def aviFrameBandPairs(h: DataFrame): DataFrame = {
    val bands = h.select(col("doc_id"), col("n_frames"), col("frame_idx"),
        explode(array((0 until 4).map(k => struct(lit(k).as("band"),
          shiftright(col("dhash"), 14 * k).bitwiseAND(lit(16383L))
            .as("bucket"))): _*)).as("bk"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val keep = bands.groupBy(col("frame_idx"), col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).filter(col("n").between(2, 16))
      .select(col("frame_idx"), col("band"), col("bucket"))
    val k = bands.join(keep, Seq("frame_idx", "band", "bucket"))
    val cand = k.as("a").join(k.as("b"),
        col("a.frame_idx") === col("b.frame_idx") &&
          col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n_frames") === col("b.n_frames"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_frames").as("n_frames"))
      .distinct()
    val fa = h.select(col("doc_id").as("a_id"), col("frame_idx"),
      col("dhash").as("ah"))
    val fb = h.select(col("doc_id").as("b_id"), col("frame_idx"),
      col("dhash").as("bh"))
    cand.join(fa, Seq("a_id")).join(fb, Seq("b_id", "frame_idx"))
      .groupBy(col("a_id"), col("b_id"), col("n_frames"))
      .agg(max(expr("bit_count(ah ^ bh)")).cast("long")
        .as("max_frame_hamming"))
      .filter(col("max_frame_hamming") <= 4)
  }

  /** The m20/m25 banded-LSH pair machinery over a (doc_id, dhash) table:
    * 4 × 14-bit bands, bucket fan-out capped at 16 (the s-family
    * discipline), verdict = Hamming ≤ 4 over the full 56-bit hash. The
    * input is a localCheckpointed tiny table, so the bucket census and
    * both self-join branches never replay decode lineage. */
  private[graft] def dhashBandPairs(h: DataFrame): DataFrame = {
    val bands = h.select(col("doc_id"), col("dhash"),
        explode(array((0 until 4).map(k => struct(lit(k).as("band"),
          shiftright(col("dhash"), 14 * k).bitwiseAND(lit(16383L))
            .as("bucket"))): _*)).as("bk"))
      .select(col("doc_id"), col("dhash"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val keep = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).filter(col("n").between(2, 16))
      .select(col("band"), col("bucket"))
    val k = bands.join(keep, Seq("band", "bucket"))
    val pairs = k.as("a").join(k.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.dhash").as("ah"), col("b.dhash").as("bh"))
      .distinct()
    pairs
      .withColumn("hamming",
        expr("bit_count(ah ^ bh)").cast("long"))
      .filter(col("hamming") <= 4)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  val oracleSql: Map[String, String] = Map(
    // BYTE-vs-CHAR coupling: the engine (Multimodal.sampleFrames) slices
    // the UTF-8 BYTE payload into 64-byte frames; this oracle slices
    // CHARACTERS (substr over text) because DuckDB 1.0 cannot substring a
    // BLOB. The two agree iff the corpus is pure ASCII (1 byte = 1 char) —
    // asserted by Round6Spec."m04 oracle ASCII assumption" against the
    // test corpus, and guarded here by the octet_length-based frame count
    // (which would disagree with a char-based count on any non-ASCII doc).
    "m04_frame_overlap" ->
      """WITH f AS (SELECT doc_id, text,
                           unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS i
                    FROM documents),
              s AS (SELECT doc_id, md5(substr(text, i * 64 + 1, 64)) AS frame_md5
                    FROM f WHERE i % 4 = 0),
              d AS (SELECT DISTINCT doc_id, frame_md5 FROM s),
              keep AS (SELECT frame_md5 FROM d GROUP BY 1
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT d.doc_id, d.frame_md5 FROM d
                    JOIN keep USING (frame_md5))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM k a JOIN k b ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // m05: same frame slicing (and the m04 ASCII coupling note), but the
    // fingerprint is the 63-comparison gradient-sign dHash — bit i-1 set
    // iff char i > char i+1, summed as shifted BIGINTs (DuckDB's `<<`,
    // never power(): doubles lose bits past 2^53). The planted re-encodes
    // (doc_id+100000 for doc_id < 40) hash the ORIGINAL text: the +1 byte
    // shift the engine applies is monotone, so dHash equality with the
    // unshifted mirror IS the perceptual-invariance claim under test.
    "m05_perceptual_overlap" ->
      """WITH f AS (SELECT doc_id, text,
                           unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS i
                    FROM documents),
              fr AS (SELECT doc_id, substr(text, i * 64 + 1, 64) AS frame
                     FROM f WHERE i % 4 = 0),
              allf AS (SELECT doc_id, frame FROM fr
                       UNION ALL
                       SELECT doc_id + 100000, frame FROM fr WHERE doc_id < 40),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(generate_series(1, 63),
                                i -> CASE WHEN ascii(substr(frame, i, 1))
                                               > ascii(substr(frame, i + 1, 1))
                                          THEN (CAST(1 AS BIGINT) << (i - 1))
                                          ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
                    FROM allf),
              d AS (SELECT DISTINCT doc_id, fp FROM h),
              keep AS (SELECT fp FROM d GROUP BY 1
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT d.doc_id, d.fp FROM d JOIN keep USING (fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // m07: m05's pair chain feeding the d07 recursive components, then
    // the d09 anti-join — keep the cluster representative (min id), drop
    // every other member of the media population.
    "m07_perceptual_dedup" ->
      """WITH RECURSIVE f AS (SELECT doc_id, text,
                           unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS i
                    FROM documents),
              fr AS (SELECT doc_id, substr(text, i * 64 + 1, 64) AS frame
                     FROM f WHERE i % 4 = 0),
              allf AS (SELECT doc_id, frame FROM fr
                       UNION ALL
                       SELECT doc_id + 100000, frame FROM fr WHERE doc_id < 40),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(generate_series(1, 63),
                                i -> CASE WHEN ascii(substr(frame, i, 1))
                                               > ascii(substr(frame, i + 1, 1))
                                          THEN (CAST(1 AS BIGINT) << (i - 1))
                                          ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
                    FROM allf),
              d AS (SELECT DISTINCT doc_id, fp FROM h),
              keep AS (SELECT fp FROM d GROUP BY 1
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT d.doc_id, d.fp FROM d JOIN keep USING (fp)),
              p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                    FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id),
              sym AS (SELECT a_id AS id, b_id AS nb FROM p
                      UNION
                      SELECT b_id AS id, a_id AS nb FROM p),
              reach AS (SELECT id, nb FROM sym
                        UNION
                        SELECT r.id, s.nb FROM reach r JOIN sym s ON r.nb = s.id),
              comp AS (SELECT id, least(id, min(nb)) AS cluster FROM reach GROUP BY id),
              pop AS (SELECT doc_id FROM documents
                      UNION ALL
                      SELECT doc_id + 100000 FROM documents WHERE doc_id < 40)
         SELECT doc_id FROM pop
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster)""",

    // m08: m05's dHash chain over the LOSSY planted construction (chars
    // at (i-1)%64=31 bumped +2 — the byte perturbation's char mirror,
    // ASCII-coupled like m04), 4x16-bit banding with the band-key cap,
    // xor+bit_count verify, distinct-a_fp count per pair.
    "m08_perceptual_near" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       UNION ALL
                       SELECT doc_id + 300000,
                              list_aggregate(list_transform(generate_series(1, len(text)),
                                i -> CASE WHEN (i - 1) % 64 = 31
                                          THEN chr(ascii(substr(text, i, 1)) + 2)
                                          ELSE substr(text, i, 1) END),
                                'string_agg', '') AS text
                       FROM documents WHERE doc_id < 40),
              f AS (SELECT doc_id, text,
                           unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS i
                    FROM base),
              fr AS (SELECT doc_id, substr(text, i * 64 + 1, 64) AS frame
                     FROM f WHERE i % 4 = 0),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(generate_series(1, 63),
                                i -> CASE WHEN ascii(substr(frame, i, 1))
                                               > ascii(substr(frame, i + 1, 1))
                                          THEN (CAST(1 AS BIGINT) << (i - 1))
                                          ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
                    FROM fr),
              d AS (SELECT DISTINCT doc_id, fp FROM h),
              bands AS (SELECT doc_id, fp, b.band AS band,
                               (fp >> (16 * b.band)) & 65535 AS bk
                        FROM d, (SELECT unnest([0, 1, 2, 3]) AS band) b),
              keep AS (SELECT band, bk FROM bands GROUP BY 1, 2
                       HAVING count(*) <= 16),
              kb AS (SELECT bands.* FROM bands JOIN keep USING (band, bk)),
              cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                              a.fp AS a_fp, b.fp AS b_fp
                       FROM kb a JOIN kb b
                         ON a.band = b.band AND a.bk = b.bk
                            AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, CAST(count(DISTINCT a_fp) AS BIGINT) AS n_near
         FROM cand
         WHERE bit_count(xor(a_fp, b_fp)) <= 3
         GROUP BY 1, 2""",

    // m06: same frame slicing (and the m04 ASCII coupling note); energy is
    // the integer variance numerator 64·Σx² − (Σx)² over the frame's byte
    // values, compared against 64²·4 — all BIGINT (list_sum yields
    // HUGEINT, cast back), mirroring the engine's exact-integer contract.
    // The planted silence (doc_id+200000 for doc_id < 30, repeat('x'))
    // scores exactly 0 per frame and drops to live_bp = 0.
    "m06_frame_energy" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       UNION ALL
                       SELECT doc_id + 200000, repeat('x', 256)
                       FROM documents WHERE doc_id < 30),
              f AS (SELECT doc_id, text,
                           unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS i
                    FROM base),
              fr AS (SELECT doc_id, substr(text, i * 64 + 1, 64) AS frame
                     FROM f WHERE i % 4 = 0),
              e AS (SELECT doc_id,
                           CAST(64 AS BIGINT)
                             * CAST(list_sum(list_transform(generate_series(1, 64),
                                 i -> ascii(substr(frame, i, 1)) * ascii(substr(frame, i, 1)))) AS BIGINT)
                           - CAST(list_sum(list_transform(generate_series(1, 64),
                               i -> ascii(substr(frame, i, 1)))) AS BIGINT)
                             * CAST(list_sum(list_transform(generate_series(1, 64),
                                 i -> ascii(substr(frame, i, 1)))) AS BIGINT) AS energy
                    FROM fr),
              allcnt AS (SELECT doc_id, count(*) AS n_frames FROM e GROUP BY 1),
              livecnt AS (SELECT doc_id, count(*) AS n_live FROM e
                          WHERE energy >= CAST(64 AS BIGINT) * 64 * 4 GROUP BY 1)
         SELECT a.doc_id, a.n_frames,
                coalesce(l.n_live, 0) AS n_live,
                CAST(coalesce(l.n_live, 0) * 10000 // a.n_frames AS BIGINT) AS live_bp
         FROM allcnt a LEFT JOIN livecnt l USING (doc_id)""",

    "m03_payload_stats" ->
      """WITH b AS (SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS bytes
                    FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(sum(bytes) AS BIGINT) AS total_bytes,
                CAST(max(bytes) AS BIGINT) AS max_bytes,
                CAST(sum(CASE WHEN bytes > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_1k
         FROM b GROUP BY source""",

    "m01_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                sha256(text) AS sha
         FROM documents""",

    "m02_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
                           unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS i
                    FROM documents)
         SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
                md5(substr(text, i * 64 + 1, 64)) AS frame_md5
         FROM f WHERE i % 4 = 0""",

    // m09: the text-domain pixel rule computed directly (the engine goes
    // text -> pixels -> real BMP bytes -> decode -> features; equality IS
    // the codec-fidelity claim). Pixel i (row-major, 25x16): blue =
    // ascii(text[i mod L]); green = (ascii(text[2i mod L]) + 7*(i//25) +
    // 13*(i%25)) mod 251. file_bytes pins the encoder's size arithmetic:
    // 54 header + 16 rows x 76 (75 pixel bytes padded to 4) = 1270.
    "m09_bmp_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              px AS (SELECT doc_id,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) AS blue,
                       list_transform(generate_series(0, 399),
                         i -> ((32 + ((ascii(substr(text, 1 + ((2 * i) % L), 1)) - 32) % 95 + 95) % 95)
                               + (i // 25) * 7 + (i % 25) * 13) % 251) AS green
                     FROM d)
         SELECT doc_id, CAST(25 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                CAST(1270 AS BIGINT) AS file_bytes,
                CAST(list_sum(blue) AS BIGINT) AS blue_sum,
                CAST(list_sum(list_transform(generate_series(1, 400),
                  i -> i * green[i])) AS BIGINT) AS green_wsum,
                CAST(list_sum(list_transform(generate_series(1, 63),
                  i -> CASE WHEN blue[i] > blue[i + 1]
                            THEN (CAST(1 AS BIGINT) << (i - 1))
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
         FROM px""",

    // m10: the text-domain sample rule (s(i) = (ascii-96)*512 + i mod 256;
    // spaces deep negative, letters positive — zero crossings track word
    // boundaries). sample_rate mirrors the per-doc fmt-chunk value.
    "m10_wav_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              s AS (SELECT doc_id,
                      list_transform(generate_series(0, 255),
                        i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                             + (i % 256)) AS smp
                    FROM d)
         SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS n_channels,
                CAST(256 AS BIGINT) AS n_samples,
                CAST(list_sum(smp) AS BIGINT) AS sum_samples,
                CAST(list_sum(list_transform(generate_series(2, 256),
                  i -> CASE WHEN (smp[i - 1] < 0) <> (smp[i] < 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS zero_cross,
                CAST(list_sum(list_transform(smp,
                  x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
         FROM s""",

    // m26: the m10 audio features over the two new format tags — even
    // docs (float 32) decode LOSSLESSLY to the exact textPcm rule; odd
    // docs (8-bit PCM) decode to the top-byte closed form 512·(ascii−96)
    // (the + i mod 256 dither lives entirely in the discarded low byte).
    "m26_wav_variants" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              s AS (SELECT doc_id,
                      CASE WHEN doc_id % 2 = 0 THEN
                        list_transform(generate_series(0, 255),
                          i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                               + (i % 256))
                      ELSE
                        list_transform(generate_series(0, 255),
                          i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512)
                      END AS smp
                    FROM d)
         SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS n_channels,
                CAST(256 AS BIGINT) AS n_samples,
                CAST(list_sum(smp) AS BIGINT) AS sum_samples,
                CAST(list_sum(list_transform(generate_series(2, 256),
                  i -> CASE WHEN (smp[i - 1] < 0) <> (smp[i] < 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS zero_cross,
                CAST(list_sum(list_transform(smp,
                  x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
         FROM s""",

    // m27: the admission outcomes are pure doc_id-mod-10 arithmetic — the
    // engine must actually decode every payload (every AVI frame
    // included) to land on them, but the oracle knows which classes a
    // CORRECT gate admits (progressive 4:2:0 and the round-17 MJPEG AVI
    // included) and the exact reason strings of the three planted
    // rejection classes.
    "m27_admission_report" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE len(text) >= 1),
              c AS (SELECT CASE doc_id % 10
                      WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'gif'
                      WHEN 3 THEN 'jpeg' WHEN 4 THEN 'wav' WHEN 5 THEN 'jpeg'
                      WHEN 6 THEN 'png' WHEN 7 THEN 'jpeg' WHEN 9 THEN 'avi'
                      ELSE 'unknown' END AS kind,
                      doc_id % 10 < 6 OR doc_id % 10 = 9 AS admit,
                      CASE doc_id % 10
                      WHEN 6 THEN 'truncated PNG chunk (length 13 at offset 8)'
                      WHEN 7 THEN 'unsupported JPEG precision 12 (8-bit only)'
                      WHEN 8 THEN 'unrecognized container magic'
                      ELSE '' END AS reason
                    FROM d),
              g AS (SELECT kind, admit, reason, count(*) AS n FROM c GROUP BY 1, 2, 3),
              t AS (SELECT sum(n) AS tot FROM g)
         SELECT kind, admit, reason, CAST(n AS BIGINT) AS n_docs,
                CAST(n * 10000 // tot AS BIGINT) AS share_bp
         FROM g, t""",

    // m30: per-doc frames F = 2 + doc_id mod 3, sampled f ∈ {0, 2} ∩
    // [0, F); frame f's block values follow the value index rotated by
    // 7f — through the m19 QUANTIZED closed form for even docs (MJPEG
    // frames, lossy) and RAW for odd docs (uncompressed '00db' DIB
    // frames, lossless); header facts are the encoder's rules.
    "m30_avi_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              fr AS (SELECT doc_id, text, L,
                            unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT))) AS f
                     FROM d),
              sf AS (SELECT * FROM fr WHERE f % 2 = 0),
              g AS (SELECT doc_id, f,
                      list_transform(generate_series(0, 63),
                        b -> CASE WHEN doc_id % 2 = 0
                               THEN 2 * (((32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)
                               ELSE 32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95 END) AS gv
                    FROM sf)
         SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n_frames,
                CAST(40000 AS BIGINT) AS us_per_frame,
                CAST(f AS BIGINT) AS frame_idx,
                CAST(64 * list_sum(gv) AS BIGINT) AS gray_sum,
                CAST(list_sum(list_transform(generate_series(0, 55),
                  b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                 > gv[(b // 7) * 8 + (b % 7) + 2]
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
         FROM g""",

    // m31: the m30 closed form per sampled frame, aggregated to the
    // ordered fingerprint csv, then the d01 grouping.
    "m31_video_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              fr AS (SELECT doc_id, text, L,
                            unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT))) AS f
                     FROM d),
              sf AS (SELECT * FROM fr WHERE f % 2 = 0),
              g AS (SELECT doc_id, f,
                      list_transform(generate_series(0, 63),
                        b -> CASE WHEN doc_id % 2 = 0
                               THEN 2 * (((32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)
                               ELSE 32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95 END) AS gv
                    FROM sf),
              h AS (SELECT doc_id, f,
                      CAST(list_sum(list_transform(generate_series(0, 55),
                        b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                       > gv[(b // 7) * 8 + (b % 7) + 2]
                                  THEN (CAST(1 AS BIGINT) << b)
                                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                    FROM g),
              v AS (SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n_frames,
                           string_agg(CAST(dhash AS VARCHAR), ',' ORDER BY f) AS fp
                    FROM h GROUP BY doc_id)
         SELECT n_frames, fp, min(doc_id) AS keeper,
                CAST(count(*) AS BIGINT) AS dup_count
         FROM v GROUP BY 1, 2""",

    // m34: both quantized pixel domains from their closed forms (DIB raw
    // v for odd corpus docs; MJPEG 2·⌊(v+1)/2⌋ for even corpus docs AND
    // every planted variant), per-sampled-frame dHashes, then the SAME
    // per-frame band census (4 × 14-bit bands, 2..16 per (frame_idx,
    // band, bucket)) and the full-sequence max-Hamming ≤ 4 verdict.
    "m34_video_variant_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              au AS (SELECT src, src AS doc_id, src % 2 = 0 AS q, text, L
                     FROM (SELECT doc_id AS src, text, L FROM d)
                     UNION ALL
                     SELECT src, src + 1000001 AS doc_id, TRUE AS q, text, L
                     FROM (SELECT doc_id AS src, text, L FROM d
                           WHERE doc_id < 40 AND doc_id % 2 = 1)),
              fr AS (SELECT doc_id, src, q, text, L,
                            unnest(generate_series(0, CAST(1 + src % 3 AS BIGINT))) AS f
                     FROM au),
              sf AS (SELECT * FROM fr WHERE f % 2 = 0),
              g AS (SELECT doc_id, f, CAST(2 + src % 3 AS BIGINT) AS n_frames,
                      list_transform(generate_series(0, 63),
                        b -> CASE WHEN q
                               THEN 2 * (((32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)
                               ELSE 32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95 END) AS gv
                    FROM sf),
              h AS (SELECT doc_id, n_frames, f AS frame_idx,
                      CAST(list_sum(list_transform(generate_series(0, 55),
                        b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                       > gv[(b // 7) * 8 + (b % 7) + 2]
                                  THEN (CAST(1 AS BIGINT) << b)
                                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                    FROM g),
              bands AS (SELECT doc_id, n_frames, frame_idx, bb AS band,
                               (dhash >> (14 * bb)) & 16383 AS bucket
                        FROM h, (SELECT unnest(generate_series(0, 3)) AS bb)),
              keep AS (SELECT frame_idx, band, bucket FROM bands
                       GROUP BY 1, 2, 3 HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT bands.doc_id, bands.n_frames, bands.frame_idx,
                           bands.band, bands.bucket
                    FROM bands JOIN keep USING (frame_idx, band, bucket)),
              cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                              a.n_frames AS n_frames
                       FROM k a JOIN k b ON a.frame_idx = b.frame_idx
                            AND a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id
                            AND a.n_frames = b.n_frames),
              v AS (SELECT cand.a_id, cand.b_id, cand.n_frames,
                           max(bit_count(xor(fa.dhash, fb.dhash))) AS mh
                    FROM cand
                    JOIN h fa ON fa.doc_id = cand.a_id
                    JOIN h fb ON fb.doc_id = cand.b_id
                         AND fb.frame_idx = fa.frame_idx
                    GROUP BY 1, 2, 3)
         SELECT a_id, b_id, n_frames, CAST(mh AS BIGINT) AS max_frame_hamming
         FROM v WHERE mh <= 4""",

    // m35: the m31 closed-form fingerprint on both sides — the corpus
    // table for every doc, the delta a re-render of the %10 = 7 docs
    // (identical pixels, +500000 id), joined on (n_frames, fp).
    "m35_ingest_video_flag" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              fr AS (SELECT doc_id, text, L,
                            unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT))) AS f
                     FROM d),
              sf AS (SELECT * FROM fr WHERE f % 2 = 0),
              g AS (SELECT doc_id, f,
                      list_transform(generate_series(0, 63),
                        b -> CASE WHEN doc_id % 2 = 0
                               THEN 2 * (((32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)
                               ELSE 32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95 END) AS gv
                    FROM sf),
              h AS (SELECT doc_id, f,
                      CAST(list_sum(list_transform(generate_series(0, 55),
                        b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                       > gv[(b // 7) * 8 + (b % 7) + 2]
                                  THEN (CAST(1 AS BIGINT) << b)
                                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                    FROM g),
              v AS (SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n_frames,
                           string_agg(CAST(dhash AS VARCHAR), ',' ORDER BY f) AS fp
                    FROM h GROUP BY doc_id)
         SELECT dl.doc_id + 500000 AS new_id, c.doc_id AS old_id, c.n_frames
         FROM v dl JOIN v c ON dl.fp = c.fp AND dl.n_frames = c.n_frames
         WHERE dl.doc_id % 10 = 7""",

    // m36: both quantized pixel domains closed-form (corpus by parity,
    // delta MJPEG-quantized), per-frame band keys with each side's hot
    // buckets capped ≤ 16 INDEPENDENTLY, the cross join on (n_frames,
    // frame_idx, band, bucket), then the full-sequence max-Hamming ≤ 4
    // verdict.
    "m36_ingest_video_variant_flag" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              au AS (SELECT src, src AS doc_id, src % 2 = 0 AS q, 'c' AS side, text, L
                     FROM (SELECT doc_id AS src, text, L FROM d)
                     UNION ALL
                     SELECT src, src + 1100001 AS doc_id, TRUE AS q, 'd' AS side, text, L
                     FROM (SELECT doc_id AS src, text, L FROM d
                           WHERE doc_id < 40 AND doc_id % 2 = 1)),
              fr AS (SELECT doc_id, src, q, side, text, L,
                            unnest(generate_series(0, CAST(1 + src % 3 AS BIGINT))) AS f
                     FROM au),
              sf AS (SELECT * FROM fr WHERE f % 2 = 0),
              g AS (SELECT doc_id, side, f, CAST(2 + src % 3 AS BIGINT) AS n_frames,
                      list_transform(generate_series(0, 63),
                        b -> CASE WHEN q
                               THEN 2 * (((32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)
                               ELSE 32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95 END) AS gv
                    FROM sf),
              h AS (SELECT doc_id, side, n_frames, f AS frame_idx,
                      CAST(list_sum(list_transform(generate_series(0, 55),
                        b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                       > gv[(b // 7) * 8 + (b % 7) + 2]
                                  THEN (CAST(1 AS BIGINT) << b)
                                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                    FROM g),
              cb0 AS (SELECT doc_id, n_frames, frame_idx, bb AS band,
                             (dhash >> (14 * bb)) & 16383 AS bucket
                      FROM h, (SELECT unnest(generate_series(0, 3)) AS bb)
                      WHERE side = 'c'),
              db0 AS (SELECT doc_id, n_frames, frame_idx, bb AS band,
                             (dhash >> (14 * bb)) & 16383 AS bucket
                      FROM h, (SELECT unnest(generate_series(0, 3)) AS bb)
                      WHERE side = 'd'),
              keepc AS (SELECT frame_idx, band, bucket FROM cb0
                        GROUP BY 1, 2, 3 HAVING count(*) <= 16),
              keepd AS (SELECT frame_idx, band, bucket FROM db0
                        GROUP BY 1, 2, 3 HAVING count(*) <= 16),
              cb AS (SELECT cb0.* FROM cb0 JOIN keepc USING (frame_idx, band, bucket)),
              db AS (SELECT db0.* FROM db0 JOIN keepd USING (frame_idx, band, bucket)),
              cand AS (SELECT DISTINCT db.doc_id AS new_id,
                              cb.doc_id AS old_id, db.n_frames AS n_frames
                       FROM db JOIN cb ON db.n_frames = cb.n_frames
                            AND db.frame_idx = cb.frame_idx
                            AND db.band = cb.band AND db.bucket = cb.bucket),
              v AS (SELECT cand.new_id, cand.old_id, cand.n_frames,
                           max(bit_count(xor(fa.dhash, fb.dhash))) AS mh
                    FROM cand
                    JOIN h fa ON fa.doc_id = cand.new_id AND fa.side = 'd'
                    JOIN h fb ON fb.doc_id = cand.old_id AND fb.side = 'c'
                         AND fb.frame_idx = fa.frame_idx
                    GROUP BY 1, 2, 3)
         SELECT new_id, old_id, n_frames, CAST(mh AS BIGINT) AS max_frame_hamming
         FROM v WHERE mh <= 4""",

    // m37: the sequential media chain replayed — the m27 class/reason
    // table for the decode stage; the audio stage PINNED dropped for
    // every float-WAV class (the m26 lossless-decode equality: its
    // fingerprint equals its own corpus PCM16 entry at deviation 0);
    // the video stage from the m31 closed forms — a class-9 arrival
    // (2-frame MJPEG, quantized frame-0 dHash) drops iff SOME corpus
    // video with n_frames = 2 carries an equal sampled fp; then the m27
    // share arithmetic.
    "m37_media_admission_pipeline" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              fr AS (SELECT doc_id, text, L,
                            unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT))) AS f
                     FROM d),
              sf AS (SELECT * FROM fr WHERE f % 2 = 0),
              g AS (SELECT doc_id, f,
                      list_transform(generate_series(0, 63),
                        b -> CASE WHEN doc_id % 2 = 0
                               THEN 2 * (((32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)
                               ELSE 32 + ((ascii(substr(text, 1 + ((b + 7 * f) % L), 1)) - 32) % 95 + 95) % 95 END) AS gv
                    FROM sf),
              h AS (SELECT doc_id, f,
                      CAST(list_sum(list_transform(generate_series(0, 55),
                        b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                       > gv[(b // 7) * 8 + (b % 7) + 2]
                                  THEN (CAST(1 AS BIGINT) << b)
                                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                    FROM g),
              vcorp AS (SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS n_frames,
                               string_agg(CAST(dhash AS VARCHAR), ',' ORDER BY f) AS fp
                        FROM h GROUP BY doc_id),
              ga AS (SELECT doc_id,
                       list_transform(generate_series(0, 63),
                         b -> 2 * (((32 + ((ascii(substr(text, 1 + (b % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)) AS gv
                     FROM d WHERE doc_id % 10 = 9),
              varr AS (SELECT doc_id,
                         CAST(CAST(list_sum(list_transform(generate_series(0, 55),
                           b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                          > gv[(b // 7) * 8 + (b % 7) + 2]
                                     THEN (CAST(1 AS BIGINT) << b)
                                     ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS VARCHAR) AS afp
                       FROM ga),
              vdup AS (SELECT DISTINCT varr.doc_id FROM varr
                       JOIN vcorp ON vcorp.n_frames = 2 AND vcorp.fp = varr.afp),
              disp AS (SELECT doc_id,
                         CASE WHEN doc_id % 10 IN (6, 7, 8) THEN 'decode'
                              WHEN doc_id % 10 = 4 THEN 'audio_dup'
                              WHEN doc_id % 10 = 9 AND
                                   doc_id IN (SELECT doc_id FROM vdup)
                                THEN 'video_dup'
                              ELSE '' END AS stage,
                         CASE WHEN doc_id % 10 = 6 THEN 'truncated PNG chunk (length 13 at offset 8)'
                              WHEN doc_id % 10 = 7 THEN 'unsupported JPEG precision 12 (8-bit only)'
                              WHEN doc_id % 10 = 8 THEN 'unrecognized container magic'
                              WHEN doc_id % 10 = 4 THEN 'duplicate audio content already in corpus'
                              WHEN doc_id % 10 = 9 AND
                                   doc_id IN (SELECT doc_id FROM vdup)
                                THEN 'duplicate video content already in corpus'
                              ELSE '' END AS reason
                       FROM d),
              g2 AS (SELECT stage, stage = '' AS admitted, reason,
                            count(*) AS n
                     FROM disp GROUP BY 1, 2, 3),
              t AS (SELECT sum(n) AS tot FROM g2)
         SELECT stage, admitted, reason, CAST(n AS BIGINT) AS n_docs,
                CAST(n * 10000 // tot AS BIGINT) AS share_bp
         FROM g2, t""",

    // m28: the m19 closed form — a CORRECT progressive decode assembles
    // the same quantized coefficients the sequential scan carries, so
    // the pixels (and gray_sum/dhash) are identical; luma_h mirrors the
    // parity rule the render uses.
    "m28_progressive_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              g AS (SELECT doc_id,
                      list_transform(generate_series(0, 63),
                        b -> 2 * (((32 + ((ascii(substr(text, 1 + (b % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)) AS gv
                    FROM d)
         SELECT doc_id, CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
                CAST(3 AS BIGINT) AS components,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS luma_h,
                CAST(64 * list_sum(gv) AS BIGINT) AS gray_sum,
                CAST(list_sum(list_transform(generate_series(0, 55),
                  b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                 > gv[(b // 7) * 8 + (b % 7) + 2]
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
         FROM g""",

    // m12: the text-domain mirror of the 2-D dHash — grid cell gp maps to
    // pixel index ((gp//8)*2)*25 + ((gp%8)*25)//8 (nearest-neighbor 8x8
    // over 25x16); luminance = blue + green + red from the m09 rules.
    "m12_bmp_dhash" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              g AS (SELECT doc_id, text, L,
                           list_transform(generate_series(0, 63),
                             gp -> ((gp // 8) * 2) * 25 + ((gp % 8) * 25) // 8) AS idx
                    FROM d),
              lm AS (SELECT doc_id,
                            list_transform(idx,
                              i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)
                                 + ((32 + ((ascii(substr(text, 1 + ((2 * i) % L), 1)) - 32) % 95 + 95) % 95)
                                    + (i // 25) * 7 + (i % 25) * 13) % 251
                                 + ((i * 31) % 251)) AS lv
                     FROM g)
         SELECT doc_id, CAST(25 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                CAST(list_sum(list_transform(generate_series(0, 55),
                  b -> CASE WHEN lv[(b // 7) * 8 + (b % 7) + 1]
                                 > lv[(b // 7) * 8 + (b % 7) + 2]
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
         FROM lm""",

    // m13: the m10 sample rule → 64-sample windows → the window's
    // little-endian BYTE image (DuckDB's & and >> on negative BIGINTs are
    // two's-complement, matching Java's byte split exactly — verified) →
    // the m06 integer variance numerator over 128 bytes, threshold
    // 128²·4. Planted silence contributes four zero-energy windows.
    "m13_wav_energy" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              s AS (SELECT doc_id, list_transform(generate_series(0, 255),
                      i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                           + (i % 256)) AS smp
                    FROM d),
              w AS (SELECT doc_id, smp, unnest(generate_series(0, 3)) AS wi FROM s),
              b AS (SELECT doc_id, wi,
                      list_transform(generate_series(0, 127),
                        j -> CASE WHEN j % 2 = 0
                                  THEN smp[wi * 64 + j // 2 + 1] & 255
                                  ELSE (smp[wi * 64 + j // 2 + 1] >> 8) & 255 END) AS bt
                    FROM w),
              e AS (SELECT doc_id, wi,
                      CAST(128 AS BIGINT)
                        * CAST(list_sum(list_transform(bt, x -> x * x)) AS BIGINT)
                      - CAST(list_sum(bt) AS BIGINT)
                        * CAST(list_sum(bt) AS BIGINT) AS energy
                    FROM b),
              alle AS (SELECT doc_id, energy FROM e
                       UNION ALL
                       SELECT doc_id + 500000, 0 FROM e WHERE doc_id < 30),
              allcnt AS (SELECT doc_id, count(*) AS n_frames FROM alle GROUP BY 1),
              livecnt AS (SELECT doc_id, count(*) AS n_live FROM alle
                          WHERE energy >= 65536 GROUP BY 1)
         SELECT a.doc_id, a.n_frames, coalesce(l.n_live, 0) AS n_live,
                CAST(coalesce(l.n_live, 0) * 10000 // a.n_frames AS BIGINT) AS live_bp
         FROM allcnt a LEFT JOIN livecnt l USING (doc_id)""",

    // m11: per-image-row blue gradient fingerprints from the pixel rule;
    // the +400000 planted top-down variants carry the SAME fingerprints
    // (pixel-identical by construction), then m04's capped frameOverlap.
    "m11_bmp_variant_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              px AS (SELECT doc_id,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) AS blue
                     FROM d),
              rw AS (SELECT doc_id, blue,
                            unnest(generate_series(0, 15)) AS r
                     FROM px),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(generate_series(1, 24),
                             c -> CASE WHEN blue[r * 25 + c] > blue[r * 25 + c + 1]
                                       THEN (CAST(1 AS BIGINT) << (c - 1))
                                       ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS row_fp
                    FROM rw),
              allh AS (SELECT doc_id, row_fp FROM h
                       UNION ALL
                       SELECT doc_id + 400000, row_fp FROM h WHERE doc_id < 40),
              dd AS (SELECT DISTINCT doc_id, row_fp FROM allh),
              keep AS (SELECT row_fp FROM dd GROUP BY 1
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT dd.doc_id, dd.row_fp FROM dd JOIN keep USING (row_fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM k a JOIN k b ON a.row_fp = b.row_fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // m14: the text-domain mirror of the decoded-PNG features across the
    // four color-type classes (doc_id mod 4). The blue rule is SHARED
    // (byte(i mod L): truecolor blue, palette blue = index, gray value),
    // so blue_sum is one formula; the dHash luminance is per class —
    // truecolor r+g+b (the m12 formula), palette (255−k)+(2k mod 251)+k
    // = 255+(2k mod 251) from the pinned gifPalette rule, gray 3·v.
    "m14_png_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              g AS (SELECT doc_id, text, L,
                           list_transform(generate_series(0, 63),
                             gp -> ((gp // 8) * 2) * 25 + ((gp % 8) * 25) // 8) AS idx
                    FROM d),
              lm AS (SELECT doc_id, text, L,
                            list_transform(idx,
                              i -> CASE doc_id % 4
                                   WHEN 2 THEN 255 +
                                     (2 * (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) % 251
                                   WHEN 3 THEN 3 * (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)
                                   ELSE (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)
                                      + ((32 + ((ascii(substr(text, 1 + ((2 * i) % L), 1)) - 32) % 95 + 95) % 95)
                                         + (i // 25) * 7 + (i % 25) * 13) % 251
                                      + ((i * 31) % 251)
                                   END) AS lv
                     FROM g)
         SELECT doc_id, CAST(25 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                CAST(CASE doc_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 2
                     WHEN 2 THEN 3 ELSE 0 END AS BIGINT) AS color_type,
                CAST(CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 3
                     ELSE 1 END AS BIGINT) AS channels,
                CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT) AS interlaced,
                CAST(list_sum(list_transform(generate_series(0, 399),
                  i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95))) AS BIGINT) AS blue_sum,
                CAST(list_sum(list_transform(generate_series(0, 55),
                  b -> CASE WHEN lv[(b // 7) * 8 + (b % 7) + 1]
                                 > lv[(b // 7) * 8 + (b % 7) + 2]
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
         FROM lm""",

    // m15: m11's row-fingerprint construction with the +600000 planted
    // slice — in the engine those are COMPRESSED PNGs of the same pixels,
    // so the pairs exist iff BMP-decode and PNG-decode land on the same
    // pixel grid; the oracle only knows the shared pixel rule.
    "m15_cross_codec_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              px AS (SELECT doc_id,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) AS blue
                     FROM d),
              rw AS (SELECT doc_id, blue,
                            unnest(generate_series(0, 15)) AS r
                     FROM px),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(generate_series(1, 24),
                             c -> CASE WHEN blue[r * 25 + c] > blue[r * 25 + c + 1]
                                       THEN (CAST(1 AS BIGINT) << (c - 1))
                                       ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS row_fp
                    FROM rw),
              allh AS (SELECT doc_id, row_fp FROM h
                       UNION ALL
                       SELECT doc_id + 600000, row_fp FROM h WHERE doc_id < 40),
              dd AS (SELECT DISTINCT doc_id, row_fp FROM allh),
              keep AS (SELECT row_fp FROM dd GROUP BY 1
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT dd.doc_id, dd.row_fp FROM dd JOIN keep USING (row_fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM k a JOIN k b ON a.row_fp = b.row_fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // m16: the m10 sample rule pushed through the G.711 μ-law integer
    // round trip (ITU-T G.711's published companding algorithm, pure
    // integer): magnitude clipped at 32635, biased by 132, segment e =
    // highest set bit above bit 7, 4-bit mantissa; expansion is
    // ((m·8+132)<<e)−132 with the sign restored. Every feature reads the
    // QUANTIZED samples y — agreement with the engine's
    // bytes→chunk-walk→expand path pins the companding tables bit-exactly.
    // m33: the m32 arithmetic on the delta-vs-corpus split — corpus fp
    // table from the raw rule over %10 ≠ 7 docs, arrivals through the
    // m16 companding chain for corpus docs < 40, fp equi-join + the
    // 700 bp verdict.
    "m33_ingest_audio_flag" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1 AND doc_id % 10 <> 7),
              sp AS (SELECT doc_id,
                       list_transform(generate_series(0, 255),
                         i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                              + (i % 256)) AS smp
                     FROM d),
              q AS (SELECT doc_id,
                      list_transform(smp, x -> CASE WHEN x < 0 THEN -1 ELSE 1 END) AS sgn,
                      list_transform(smp,
                        x -> least(abs(CAST(x AS BIGINT)), 32635) + 132) AS v
                    FROM sp WHERE doc_id < 40),
              e0 AS (SELECT doc_id, sgn, v,
                       list_transform(v, t -> CASE WHEN t < 256 THEN 0
                                                   WHEN t < 512 THEN 1
                                                   WHEN t < 1024 THEN 2
                                                   WHEN t < 2048 THEN 3
                                                   WHEN t < 4096 THEN 4
                                                   WHEN t < 8192 THEN 5
                                                   WHEN t < 16384 THEN 6
                                                   ELSE 7 END) AS seg
                     FROM q),
              mu AS (SELECT doc_id + 700000 AS doc_id,
                       list_transform(generate_series(1, 256),
                         i -> sgn[i] * ((((((v[i] >> (seg[i] + 3)) & 15) * 8)
                                          + 132) << seg[i]) - 132)) AS smp
                     FROM e0),
              en AS (SELECT doc_id, TRUE AS is_delta,
                       list_transform(generate_series(0, 15),
                         w -> CAST(list_sum(list_transform(generate_series(1, 16),
                                j -> CAST(smp[16 * w + j] AS BIGINT) * smp[16 * w + j])) AS BIGINT)) AS e
                     FROM mu
                     UNION ALL
                     SELECT doc_id, FALSE,
                       list_transform(generate_series(0, 15),
                         w -> CAST(list_sum(list_transform(generate_series(1, 16),
                                j -> CAST(smp[16 * w + j] AS BIGINT) * smp[16 * w + j])) AS BIGINT))
                     FROM sp),
              fpv AS (SELECT doc_id, is_delta, e,
                        CAST(list_sum(list_transform(generate_series(0, 14),
                          w -> CASE WHEN e[w + 1] > e[w + 2]
                                    THEN (CAST(1 AS BIGINT) << w)
                                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
                      FROM en),
              p AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
                           CAST(list_max(list_transform(generate_series(1, 16),
                             w -> (abs(a.e[w] - b.e[w]) * 10000)
                                  // greatest(a.e[w], b.e[w], 1))) AS BIGINT) AS max_dev_bp
                    FROM fpv a JOIN fpv b
                      ON a.fp = b.fp AND a.is_delta AND NOT b.is_delta)
         SELECT new_id, old_id, max_dev_bp FROM p WHERE max_dev_bp <= 700""",

    // m32: both decoded-sample populations from their closed forms (raw
    // m10 rule for PCM16; the m16 compress→expand chain for the planted
    // μ-law side), 16-sample window energies, the 15-bit gradient
    // fingerprint, the 2..16 bucket cap, and the 700 bp deviation
    // verdict — all integer, all recomputed verbatim.
    "m32_audio_variant_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              sp AS (SELECT doc_id,
                       list_transform(generate_series(0, 255),
                         i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                              + (i % 256)) AS smp
                     FROM d),
              q AS (SELECT doc_id,
                      list_transform(smp, x -> CASE WHEN x < 0 THEN -1 ELSE 1 END) AS sgn,
                      list_transform(smp,
                        x -> least(abs(CAST(x AS BIGINT)), 32635) + 132) AS v
                    FROM sp WHERE doc_id < 40),
              e0 AS (SELECT doc_id, sgn, v,
                       list_transform(v, t -> CASE WHEN t < 256 THEN 0
                                                   WHEN t < 512 THEN 1
                                                   WHEN t < 1024 THEN 2
                                                   WHEN t < 2048 THEN 3
                                                   WHEN t < 4096 THEN 4
                                                   WHEN t < 8192 THEN 5
                                                   WHEN t < 16384 THEN 6
                                                   ELSE 7 END) AS seg
                     FROM q),
              mu AS (SELECT doc_id + 600000 AS doc_id,
                       list_transform(generate_series(1, 256),
                         i -> sgn[i] * ((((((v[i] >> (seg[i] + 3)) & 15) * 8)
                                          + 132) << seg[i]) - 132)) AS smp
                     FROM e0),
              au AS (SELECT doc_id, smp FROM sp
                     UNION ALL SELECT doc_id, smp FROM mu),
              en AS (SELECT doc_id,
                       list_transform(generate_series(0, 15),
                         w -> CAST(list_sum(list_transform(generate_series(1, 16),
                                j -> CAST(smp[16 * w + j] AS BIGINT) * smp[16 * w + j])) AS BIGINT)) AS e
                     FROM au),
              fpv AS (SELECT doc_id, e,
                        CAST(list_sum(list_transform(generate_series(0, 14),
                          w -> CASE WHEN e[w + 1] > e[w + 2]
                                    THEN (CAST(1 AS BIGINT) << w)
                                    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
                      FROM en),
              keep AS (SELECT fp FROM fpv GROUP BY fp
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT fpv.* FROM fpv JOIN keep USING (fp)),
              p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp AS fp,
                           CAST(list_max(list_transform(generate_series(1, 16),
                             w -> (abs(a.e[w] - b.e[w]) * 10000)
                                  // greatest(a.e[w], b.e[w], 1))) AS BIGINT) AS max_dev_bp
                    FROM k a JOIN k b
                      ON a.fp = b.fp AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, fp, max_dev_bp FROM p WHERE max_dev_bp <= 700""",

    "m16_mulaw_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              s AS (SELECT doc_id,
                      list_transform(generate_series(0, 255),
                        i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                             + (i % 256)) AS smp
                    FROM d),
              q AS (SELECT doc_id,
                      list_transform(smp, x -> CASE WHEN x < 0 THEN -1 ELSE 1 END) AS sgn,
                      list_transform(smp,
                        x -> least(abs(CAST(x AS BIGINT)), 32635) + 132) AS v
                    FROM s),
              e AS (SELECT doc_id, sgn, v,
                      list_transform(v, t -> CASE WHEN t < 256 THEN 0
                                                  WHEN t < 512 THEN 1
                                                  WHEN t < 1024 THEN 2
                                                  WHEN t < 2048 THEN 3
                                                  WHEN t < 4096 THEN 4
                                                  WHEN t < 8192 THEN 5
                                                  WHEN t < 16384 THEN 6
                                                  ELSE 7 END) AS seg
                    FROM q),
              y AS (SELECT doc_id,
                      list_transform(generate_series(1, 256),
                        i -> sgn[i] * ((((((v[i] >> (seg[i] + 3)) & 15) * 8)
                                         + 132) << seg[i]) - 132)) AS dec
                    FROM e)
         SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS n_channels,
                CAST(256 AS BIGINT) AS n_samples,
                CAST(list_sum(dec) AS BIGINT) AS sum_samples,
                CAST(list_sum(list_transform(generate_series(2, 256),
                  i -> CASE WHEN (dec[i - 1] < 0) <> (dec[i] < 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS zero_cross,
                CAST(list_sum(list_transform(dec,
                  x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
         FROM y""",

    // m17: the text-domain mirror of the decoded-GIF features — the GIF
    // pixel INDEX rule is index(i) = byte(i mod L) and the palette maps
    // index k to blue k, so decoded blue(i) = ascii(text[i mod L]) (the
    // m09 blue rule); the fingerprint is the m09 first-64-blue gradient.
    // palette_size pins the LSD parse (128-entry table), interlaced the
    // parity rule the encoder uses for the four-pass row order.
    "m17_gif_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              px AS (SELECT doc_id,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) AS blue
                     FROM d)
         SELECT doc_id, CAST(25 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
                CAST(128 AS BIGINT) AS palette_size,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS interlaced,
                CAST(list_sum(blue) AS BIGINT) AS blue_sum,
                CAST(list_sum(list_transform(generate_series(1, 63),
                  i -> CASE WHEN blue[i] > blue[i + 1]
                            THEN (CAST(1 AS BIGINT) << (i - 1))
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
         FROM px""",

    // m18: m15's row-fingerprint construction with the +700000 planted
    // slice — in the engine those are LZW-compressed (half interlaced)
    // GIFs whose palette puts the m09 blue rule back on the blue channel,
    // so the pairs exist iff BMP-decode and GIF-decode land on the same
    // blue grid; the oracle only knows the shared pixel rule.
    "m18_tri_codec_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              px AS (SELECT doc_id,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) AS blue
                     FROM d),
              rw AS (SELECT doc_id, blue,
                            unnest(generate_series(0, 15)) AS r
                     FROM px),
              h AS (SELECT doc_id,
                           CAST(list_sum(list_transform(generate_series(1, 24),
                             c -> CASE WHEN blue[r * 25 + c] > blue[r * 25 + c + 1]
                                       THEN (CAST(1 AS BIGINT) << (c - 1))
                                       ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS row_fp
                    FROM rw),
              allh AS (SELECT doc_id, row_fp FROM h
                       UNION ALL
                       SELECT doc_id + 700000, row_fp FROM h WHERE doc_id < 40),
              dd AS (SELECT DISTINCT doc_id, row_fp FROM allh),
              keep AS (SELECT row_fp FROM dd GROUP BY 1
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT dd.doc_id, dd.row_fp FROM dd JOIN keep USING (row_fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
         FROM k a JOIN k b ON a.row_fp = b.row_fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // m19: the text-domain mirror of the decoded-JPEG features. Flat 8×8
    // blocks make the lossy round trip the closed integer form
    // g'(v) = 2·⌊(v+1)/2⌋ (exact-DC quantize, Annex-K Q00=16, fixed-point
    // IDCT — verified exhaustively in JpegSpec); gray_sum = 64·Σ g'(block)
    // and the dHash grid lands exactly on block top-lefts (64/8 = 8).
    // DuckDB's // truncates toward zero, so the numerator is kept
    // non-negative by construction (v ≥ 32).
    "m19_jpeg_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              g AS (SELECT doc_id,
                      list_transform(generate_series(0, 63),
                        b -> 2 * (((32 + ((ascii(substr(text, 1 + (b % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)) AS gv
                    FROM d)
         SELECT doc_id, CAST(64 AS BIGINT) AS width, CAST(64 AS BIGINT) AS height,
                CAST(3 AS BIGINT) AS components,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS BIGINT)
                  AS restart_interval,
                CAST(64 * list_sum(gv) AS BIGINT) AS gray_sum,
                CAST(list_sum(list_transform(generate_series(0, 55),
                  b -> CASE WHEN gv[(b // 7) * 8 + (b % 7) + 1]
                                 > gv[(b // 7) * 8 + (b % 7) + 2]
                            THEN (CAST(1 AS BIGINT) << b)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
         FROM g""",

    // m29: the planted-orientation construction verbatim — one row per
    // doc, orientation from the render rule, paired pinned at 1 (the
    // normalized variant reproduces its original's pixels exactly, so
    // the dHashes are equal by construction).
    "m29_exif_orientation_dedup" ->
      """SELECT CAST(doc_id AS BIGINT) AS orig_id,
                CAST(doc_id + 1000000 AS BIGINT) AS var_id,
                CAST(2 + doc_id % 7 AS BIGINT) AS orientation,
                CAST(1 AS BIGINT) AS paired
         FROM documents WHERE len(text) >= 1""",

    // m20: both quantized pixel domains from their closed forms
    // (scale 1: 2·⌊(v+1)/2⌋; scale 2: 4·⌊(v+2)/4⌋), dHashes from each,
    // then the SAME banded-LSH candidate generation and Hamming verdict.
    // The dHash luminance is 3·gray — order-equivalent to gray, so the
    // comparisons use gv directly.
    "m20_lossy_variant_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              g AS (SELECT doc_id,
                      list_transform(generate_series(0, 63),
                        b -> 2 * (((32 + ((ascii(substr(text, 1 + (b % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)) AS gv1,
                      list_transform(generate_series(0, 63),
                        b -> 4 * (((32 + ((ascii(substr(text, 1 + (b % L), 1)) - 32) % 95 + 95) % 95) + 2) // 4)) AS gv2
                    FROM d),
              h1 AS (SELECT doc_id,
                       CAST(list_sum(list_transform(generate_series(0, 55),
                         b -> CASE WHEN gv1[(b // 7) * 8 + (b % 7) + 1]
                                        > gv1[(b // 7) * 8 + (b % 7) + 2]
                                   THEN (CAST(1 AS BIGINT) << b)
                                   ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                     FROM g),
              h2 AS (SELECT doc_id + 800000 AS doc_id,
                       CAST(list_sum(list_transform(generate_series(0, 55),
                         b -> CASE WHEN gv2[(b // 7) * 8 + (b % 7) + 1]
                                        > gv2[(b // 7) * 8 + (b % 7) + 2]
                                   THEN (CAST(1 AS BIGINT) << b)
                                   ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                     FROM g WHERE doc_id < 40),
              allh AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
              bands AS (SELECT doc_id, dhash, bb AS band,
                               (dhash >> (14 * bb)) & 16383 AS bucket
                        FROM allh, (SELECT unnest(generate_series(0, 3)) AS bb)),
              keep AS (SELECT band, bucket FROM bands GROUP BY 1, 2
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT bands.doc_id, bands.dhash, bands.band, bands.bucket
                    FROM bands JOIN keep USING (band, bucket)),
              p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                           a.dhash AS ah, b.dhash AS bh
                    FROM k a JOIN k b ON a.band = b.band
                         AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS BIGINT) AS hamming
         FROM p WHERE bit_count(xor(ah, bh)) <= 4""",

    // m25: the 4:2:0 variants decode to the SAME closed-form pixels as
    // their 4:4:4 originals (flat blocks: chroma box-average exact,
    // replication upsample exact — JpegSpec pins it), so the planted
    // side reuses the scale-1 gv formula at offset 900000 and the
    // planted pairs read Hamming 0; the band machinery is m20's.
    "m25_subsampled_dedup" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              g AS (SELECT doc_id,
                      list_transform(generate_series(0, 63),
                        b -> 2 * (((32 + ((ascii(substr(text, 1 + (b % L), 1)) - 32) % 95 + 95) % 95) + 1) // 2)) AS gv1
                    FROM d),
              h1 AS (SELECT doc_id,
                       CAST(list_sum(list_transform(generate_series(0, 55),
                         b -> CASE WHEN gv1[(b // 7) * 8 + (b % 7) + 1]
                                        > gv1[(b // 7) * 8 + (b % 7) + 2]
                                   THEN (CAST(1 AS BIGINT) << b)
                                   ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
                     FROM g),
              h2 AS (SELECT doc_id + 900000 AS doc_id, dhash
                     FROM h1 WHERE doc_id < 40),
              allh AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2),
              bands AS (SELECT doc_id, dhash, bb AS band,
                               (dhash >> (14 * bb)) & 16383 AS bucket
                        FROM allh, (SELECT unnest(generate_series(0, 3)) AS bb)),
              keep AS (SELECT band, bucket FROM bands GROUP BY 1, 2
                       HAVING count(*) BETWEEN 2 AND 16),
              k AS (SELECT bands.doc_id, bands.dhash, bands.band, bands.bucket
                    FROM bands JOIN keep USING (band, bucket)),
              p AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                           a.dhash AS ah, b.dhash AS bh
                    FROM k a JOIN k b ON a.band = b.band
                         AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS BIGINT) AS hamming
         FROM p WHERE bit_count(xor(ah, bh)) <= 4""",

    // m21: the text-domain mirror of the sampled animation frames —
    // F = 3 + doc_id mod 3 frames, sampled f ∈ {0,2,4} ∩ [0,F); frame f's
    // blue rule is the m09 rule rotated by 7f; delay/interlace/loops are
    // the encoder's header rules, read back by the engine from the
    // DECODED GCE/LSD/NETSCAPE bytes.
    "m21_gif_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              fr AS (SELECT doc_id, text, L,
                            unnest(generate_series(0, CAST(2 + doc_id % 3 AS BIGINT))) AS f
                     FROM d),
              sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
              px AS (SELECT doc_id, f,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + ((i + 7 * f) % L), 1)) - 32) % 95 + 95) % 95)) AS blue
                     FROM sampled)
         SELECT doc_id, CAST(3 + doc_id % 3 AS BIGINT) AS n_frames,
                CAST(doc_id % 4 AS BIGINT) AS loops,
                CAST(f AS BIGINT) AS frame_idx,
                CAST(4 + f AS BIGINT) AS delay_cs,
                CAST(CASE WHEN (doc_id + f) % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
                  AS interlaced,
                CAST(list_sum(blue) AS BIGINT) AS blue_sum,
                CAST(list_sum(list_transform(generate_series(1, 63),
                  i -> CASE WHEN blue[i] > blue[i + 1]
                            THEN (CAST(1 AS BIGINT) << (i - 1))
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
         FROM px""",

    // m22: both resize geometries from the text rule — box pixel gp
    // averages its exact 5×4 tile (⌊Σ/20⌋), nearest-neighbor pixel gp
    // samples (2·⌊gp/8⌋·25 + ⌊25·(gp mod 8)/8⌋); fingerprints are the
    // first-N gradient over each resized grid.
    "m22_resize" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              px AS (SELECT doc_id,
                       list_transform(generate_series(0, 399),
                         i -> (32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95)) AS blue
                     FROM d),
              bx AS (SELECT doc_id,
                       list_transform(generate_series(0, 19),
                         gp -> list_sum(list_transform(generate_series(0, 19),
                           t -> blue[((gp // 5) * 4 + t // 5) * 25
                                     + (gp % 5) * 5 + t % 5 + 1])) // 20) AS bv,
                       list_transform(generate_series(0, 63),
                         gp -> blue[(2 * (gp // 8)) * 25
                                    + (25 * (gp % 8)) // 8 + 1]) AS nv
                     FROM px)
         SELECT doc_id, CAST(5 AS BIGINT) AS box_w, CAST(4 AS BIGINT) AS box_h,
                CAST(list_sum(bv) AS BIGINT) AS box_sum,
                CAST(list_sum(list_transform(generate_series(1, 19),
                  j -> CASE WHEN bv[j] > bv[j + 1]
                            THEN (CAST(1 AS BIGINT) << (j - 1))
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS box_fp,
                CAST(list_sum(nv) AS BIGINT) AS nn_sum,
                CAST(list_sum(list_transform(generate_series(1, 63),
                  j -> CASE WHEN nv[j] > nv[j + 1]
                            THEN (CAST(1 AS BIGINT) << (j - 1))
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS nn_fp
         FROM bx""",

    // m23: the decimation from the textPcm rule — y(j) = floor(block
    // mean) with FLOOR (not truncating) division on negative sums; the
    // decoded fmt rate divided by the factor.
    "m23_audio_resample" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              s AS (SELECT doc_id, list_transform(generate_series(0, 255),
                      i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                           + (i % 256)) AS smp
                    FROM d),
              y AS (SELECT doc_id, list_transform(generate_series(0, 63),
                      j -> CAST(floor((smp[4 * j + 1] + smp[4 * j + 2]
                                       + smp[4 * j + 3] + smp[4 * j + 4])
                                      / 4.0) AS BIGINT)) AS y
                    FROM s)
         SELECT doc_id,
                CAST((8000 + (doc_id % 5) * 1000) / 4 AS BIGINT) AS out_rate,
                CAST(64 AS BIGINT) AS n_out,
                CAST(list_sum(y) AS BIGINT) AS s_sum,
                CAST(list_sum(list_transform(generate_series(2, 64),
                  j -> CASE WHEN (y[j - 1] < 0) <> (y[j] < 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS zc,
                CAST(list_sum(list_transform(generate_series(2, 64),
                  j -> CASE WHEN y[j - 1] > y[j]
                            THEN (CAST(1 AS BIGINT) << (j - 2))
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
         FROM y""",

    // m24: the A-law integer round trip — 13-bit magnitude (arithmetic
    // >> 3, two's-complement in both engines — verified), negative
    // magnitudes as -x13-1, the G.711 segment table, segments 0/1 both
    // taking mantissa >> 1, expand per the published 8/0x108 bases.
    "m24_alaw_decode" ->
      """WITH d AS (SELECT doc_id, text, len(text) AS L FROM documents
                    WHERE len(text) >= 1),
              s AS (SELECT doc_id,
                      list_transform(generate_series(0, 255),
                        i -> ((32 + ((ascii(substr(text, 1 + (i % L), 1)) - 32) % 95 + 95) % 95) - 96) * 512
                             + (i % 256)) AS smp
                    FROM d),
              q AS (SELECT doc_id,
                      list_transform(smp, x -> CAST(x AS BIGINT) >> 3) AS x13
                    FROM s),
              e AS (SELECT doc_id,
                      list_transform(x13,
                        t -> CASE WHEN t >= 0 THEN t ELSE -t - 1 END) AS m,
                      list_transform(x13,
                        t -> CASE WHEN t >= 0 THEN 1 ELSE -1 END) AS sgn
                    FROM q),
              g AS (SELECT doc_id, m, sgn,
                      list_transform(m, t -> CASE WHEN t <= 31 THEN 0
                                                  WHEN t <= 63 THEN 1
                                                  WHEN t <= 127 THEN 2
                                                  WHEN t <= 255 THEN 3
                                                  WHEN t <= 511 THEN 4
                                                  WHEN t <= 1023 THEN 5
                                                  WHEN t <= 2047 THEN 6
                                                  ELSE 7 END) AS seg
                    FROM e),
              y AS (SELECT doc_id,
                      list_transform(generate_series(1, 256),
                        i -> sgn[i] * (CASE
                          WHEN seg[i] = 0
                            THEN (((m[i] >> 1) & 15) << 4) + 8
                          WHEN seg[i] = 1
                            THEN (((m[i] >> 1) & 15) << 4) + 264
                          ELSE ((((m[i] >> seg[i]) & 15) << 4) + 264)
                               << (seg[i] - 1) END)) AS dec
                    FROM g)
         SELECT doc_id,
                CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS n_channels,
                CAST(256 AS BIGINT) AS n_samples,
                CAST(list_sum(dec) AS BIGINT) AS sum_samples,
                CAST(list_sum(list_transform(generate_series(2, 256),
                  i -> CASE WHEN (dec[i - 1] < 0) <> (dec[i] < 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS zero_cross,
                CAST(list_sum(list_transform(dec,
                  x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS energy
         FROM y""",
  )
}
