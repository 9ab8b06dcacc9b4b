package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.artifacts.ArtifactStore

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata, and per-batch decode/feature
  * stages run as partition-local transforms (the Scala analogue of
  * `mapInPandas` batches: one iterator per partition, streaming, no
  * driver-side collection).
  *
  * The actual codecs (JPEG decode, audio resample, video demux) are NOT
  * available in this container, so [[decodeFeatures]] and [[sampleFrames]]
  * use a clearly-marked deterministic STUB in place of the codec call. The
  * Spark-side contract — schemas, binary transport, partition-local batch
  * shape, feature vector layout — is real and tested; swapping the stub for
  * a JNI/ImageIO call changes no plan shape.
  */
object Multimodal {

  /** A media row: opaque payload + metadata. */
  final case class MediaRow(doc_id: Long, media: Array[Byte], format: String)

  /** The (doc_id, text) projection every render table reads, spread to
    * cluster parallelism on batch frames. At bench SFs the documents
    * table is ONE compact parquet split, so without this every render's
    * codec CPU — the engine's hottest per-row work (JPEG DCT/Huffman,
    * PNG deflate, AVI mux) — and the decode stage fused behind it
    * serialized on a single core (measured: m29 ran its whole
    * encode+decode pass on 1 of 32 cores). One round-robin exchange of
    * the tiny (id, text) rows buys the full cluster for the map stage —
    * and matches the 100 TB shape, where a corpus scan arrives as
    * thousands of splits.
    *
    * GUARDED round-robin repartition (round 19): the spread fires only
    * when the input carries FEWER splits than the cluster —
    * [[graft.plans.PreparedPlan.spreadUnderSplit]], whose count a plain
    * scan projection answers from its prepared plan without running
    * anything; [[graft.operators.Dedup.spreadToParallelism]] adds a
    * check that skips frames that already shuffled, which render inputs
    * never have. The round-18
    * unconditional form repartitioned even a thousands-of-splits 100 TB
    * corpus scan down to defaultParallelism — adding a shuffle the
    * input never needed and COLLAPSING scan parallelism, the opposite
    * of guide §2.1 — while at bench SFs every base table is one
    * compact parquet split, so the guard fires and the plan is
    * unchanged there (MultimodalSpec pins both directions).
    * The render tables are the corpus SYNTHESIZER (production ingests
    * real media bytes; these functions fabricate them from the text
    * corpus for the oracle), so the one extra exchange of tiny (id,
    * text) rows is scaffold cost, bounded and paid where the codec CPU
    * it parallelizes dominates it. Streaming frames pass through
    * (micro-batches inherit the source's partitioning). */
  private def renderInput(documents: DataFrame): DataFrame = {
    val proj = documents.select(col("doc_id"), col("text"))
    if (proj.isStreaming) proj else graft.plans.PreparedPlan.spreadUnderSplit(proj)
  }

  /** The same projection UNSPREAD — for the cheap renders (BMP memcpy,
    * WAV sample synthesis, the UTF-8 stub) whose per-row cost is far
    * below the exchange + extra-stage overhead the spread adds: the
    * full-suite A/B at sf0.1/local[32] measured the spread REGRESSING
    * every cheap-render query (m06 0.18 → 1.04 s, m13 0.24 → 1.01 s,
    * m04 0.33 → 1.22 s — the added stages cost more than the trivial
    * per-row work they parallelize) while the JPEG/AVI/GIF/PNG families
    * won 3–10× (m29 5.17 → 0.43 s, m28 3.88 → 0.42 s). Parallelism is
    * paid for only where codec CPU dominates it. */
  private def renderInputPlain(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"))

  /** Extracted features: fixed-width embedding + decoded dimensions. */
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int,
                                 n_bytes: Long, features: Array[Float])

  /** A sampled "frame" of a media payload. */
  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Wraps the documents table as a binary media table (payload = UTF-8
    * bytes standing in for an encoded image). */
  def asMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInputPlain(documents)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"),
        lit("stub/raw").as("format"))
      .as[MediaRow]
  }

  /** Per-partition decode + feature extraction.
    *
    * STUB: a real implementation calls the image codec here (per batch, per
    * partition). The deterministic fake derives "dimensions" from the
    * payload length and a `dim`-bucket byte histogram (L1-normalised) as the
    * feature vector — stable across partitionings and runs.
    */
  def decodeFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        // --- STUB decode: replace with codec call (e.g. ImageIO.read) ----
        val bytes = r.media
        val width = math.max(1, bytes.length % 1024)
        val height = math.max(1, bytes.length / 1024 + 1)
        val hist = new Array[Float](dim)
        var i = 0
        while (i < bytes.length) {
          hist((bytes(i) & 0xFF) % dim) += 1f
          i += 1
        }
        val total = math.max(1, bytes.length).toFloat
        var j = 0
        while (j < dim) { hist(j) /= total; j += 1 }
        // -----------------------------------------------------------------
        MediaFeatures(r.doc_id, width, height, bytes.length.toLong, hist)
      }
    }
  }

  /** Partition-local "resize": re-encode each payload to at most
    * `maxBytes`. STUB: deterministic byte subsampling (every k-th byte)
    * stands in for the codec's decode→scale→re-encode; the contract — a
    * map-shaped stage that shrinks payloads in place, preserving ids and
    * never widening the row — is the real part. Payloads already within
    * budget pass through untouched (same object, no copy). */
  def resize(media: Dataset[MediaRow], maxBytes: Int = 1 << 16): Dataset[MediaRow] = {
    require(maxBytes > 0)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.media.length <= maxBytes) r
        else {
          // --- STUB re-encode: replace with codec scale call --------------
          // Long arithmetic: length + maxBytes - 1 overflows Int for
          // payloads near 2 GB (or large caps).
          val k = ((r.media.length.toLong + maxBytes - 1) / maxBytes).toInt
          val out = new Array[Byte](((r.media.length.toLong + k - 1) / k).toInt)
          var i = 0
          while (i < out.length) { out(i) = r.media(i * k); i += 1 }
          // ----------------------------------------------------------------
          r.copy(media = out, format = r.format + ";resized")
        }
      }
    }
  }

  /** Partition-local "re-encode": shift every payload byte up by `shift`
    * (a monotone byte-value remap — the byte-level model of a
    * brightness/contrast adjustment during re-encoding). STUB: a real
    * implementation decodes and re-encodes through the codec; the
    * contract — a map-shaped stage producing a payload that is
    * byte-DIFFERENT (m04's md5 fingerprints all change) yet
    * perceptually identical (every [[graft.functions.DHash64]] gradient
    * sign is preserved, so m05 still matches it to the original) — is the
    * real part. Requires headroom: payload bytes must stay below
    * 256 - shift unsigned or the wrap breaks monotonicity (ASCII payloads
    * are <= 126, so the stub's domain always has it). `idOffset`
    * relabels the copy so planted originals and re-encodes coexist. */
  def reencodeStub(media: Dataset[MediaRow], shift: Int = 1,
                   idOffset: Long = 0L): Dataset[MediaRow] = {
    require(shift >= 1 && shift <= 128, s"shift out of (0, 128]: $shift")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        // --- STUB re-encode: replace with codec decode->adjust->encode ---
        val out = new Array[Byte](r.media.length)
        var i = 0
        while (i < out.length) { out(i) = (r.media(i) + shift).toByte; i += 1 }
        // -----------------------------------------------------------------
        MediaRow(r.doc_id + idOffset, out, r.format + ";reencoded")
      }
    }
  }

  /** Partition-local LOSSY "re-encode": bump ONE byte per 64-byte frame
    * window (position 31, +2) — the byte-level model of a lossy codec
    * pass that perturbs a few pixels. STUB like [[reencodeStub]]; the
    * contract is the real part: the payload is byte-different AND
    * flips at most two [[graft.functions.DHash64]] gradient signs per
    * frame (comparisons (30,31) and (31,32)), so m05's EXACT fingerprint
    * match misses it while m08's Hamming-tolerant banding still pairs it
    * with the original. ASCII payloads stay in range only up to ≤ 125:
    * 126+2 = 128 overflows the signed byte and wraps negative, where the
    * m08 oracle's `chr(ascii+2)` diverges (chr(128) is multi-byte UTF-8,
    * shifting every later frame boundary). The synthetic corpus is
    * lowercase ASCII ≤ 122, inside the safe range; a real codec
    * replacement makes the question moot (the stub markers bound it). */
  def reencodeLossyStub(media: Dataset[MediaRow],
                        idOffset: Long = 0L): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        // --- STUB lossy re-encode: replace with codec decode->encode ---
        val out = new Array[Byte](r.media.length)
        var i = 0
        while (i < out.length) {
          out(i) = if (i % 64 == 31) (r.media(i) + 2).toByte else r.media(i)
          i += 1
        }
        // ---------------------------------------------------------------
        MediaRow(r.doc_id + idOffset, out, r.format + ";lossy")
      }
    }
  }

  /** m08: perceptual NEAR-dup pairs — [[frameOverlap]] with Hamming
    * tolerance, the media twin of d05's SimHash banding: 64-bit frame
    * dHashes split into 4×16-bit bands (lossless for Hamming ≤ 3 by
    * pigeonhole — ≤ 3 flipped bits leave ≥ 1 band intact), candidates
    * from the band equi-join, verified by exact popcount of the XOR.
    * Catches what the exact matcher misses: a lossy re-encode that
    * flips a couple of gradient signs still shares a band with its
    * original and verifies within `maxHamming`.
    *
    * `maxBandDocs` is the [[frameOverlap]] skew guard at the band level:
    * a band key carried by too many frame postings is boilerplate
    * (flat gradients, test patterns) and is dropped before the
    * self-join, bounding per-key fan-out at C(N,2). Shuffles: band
    * aggregate + band equi-join + pair aggregate — no all-pairs stage;
    * the verify is a scan-side popcount, not a join.
    *
    * Input: (idCol, hashCol) frame fingerprint rows. Output:
    * (a_id, b_id, n_near) — distinct a-side fingerprints with ≥ 1
    * near-match in b. */
  def frameNearOverlap(frames: DataFrame, idCol: String, hashCol: String,
                       maxHamming: Int = 3,
                       maxBandDocs: Int = 16): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 3,
      "4x16-bit banding only covers Hamming distance <= 3")
    val perDoc = frames.select(col(idCol), col(hashCol).as("fp")).distinct()
    val bands = perDoc.select(col(idCol), col("fp"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bk"))): _*))
        .as("bs"))
      .select(col(idCol), col("fp"),
        col("bs.band").as("band"), col("bs.bk").as("bk"))
    val keep = bands.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBandDocs)
      .select(col("band"), col("bk"))
    // Materialized once (the justified-checkpoint pattern): both
    // self-join sides read this frame — without it the frame demux +
    // fingerprint scan and the cap aggregate would run twice.
    val kb = bands.join(keep, Seq("band", "bk"), "left_semi").localCheckpoint()
    kb.select(col("band"), col("bk"), col(idCol).as("a_id"), col("fp").as("a_fp"))
      .join(kb.select(col("band"), col("bk"), col(idCol).as("b_id"),
        col("fp").as("b_fp")), Seq("band", "bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp"))
      .distinct()
      .filter(expr(s"bit_count(a_fp ^ b_fp) <= $maxHamming"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(countDistinct(col("a_fp")).as("n_near"))
  }

  /** Frame-energy gate — the "drop silence / black frames" preprocessing
    * step that runs BEFORE fingerprinting or feature extraction in any
    * real media pipeline (dead frames carry no signal, bloat every
    * downstream join, and — being identical across unrelated media — are
    * exactly the boilerplate m04/m05's frequency cap exists to fight;
    * cheaper to never emit them). Energy = the integer byte-variance
    * numerator n·Σx² − (Σx)² ([[graft.functions.ByteEnergy]], exact
    * integer arithmetic so the keep flag is engine-stable): a constant
    * payload scores exactly 0, content scores thousands. Map-only — the
    * gate runs scan-side in the same codegen stage as the demux, no
    * shuffle. `minVariance` is in whole variance units; the compare runs
    * entirely in integers (threshold = n²·minVariance), so the keep flag
    * can never dither on an FP boundary. */
  def frameEnergyFilter(frames: DataFrame, frameCol: String = "frame",
                        minVariance: Long = 4L): DataFrame =
    frames.filter(
      graft.functions.ByteEnergy.byteEnergy(col(frameCol)) >=
        length(col(frameCol)).cast("long") * length(col(frameCol)).cast("long")
          * lit(minVariance))

  /** Cross-media content-copy detection over sampled frames: every media
    * pair sharing at least one (distinct) frame fingerprint, with the
    * shared-frame count — who re-encoded whose content. Composes the
    * multimodal demux ([[sampleFrames]] → fingerprints) with the dedup
    * family's equi-join discipline: the join key is the frame hash, never
    * an all-pairs comparison.
    *
    * `maxFrameDocs` is the skew guard, same role as d03's bucket cap: a
    * frame appearing in more than N media is BOILERPLATE (intros, test
    * patterns, silence), contributes C(n,2) pairs per hash, and says
    * nothing about copying — it is dropped before the self-join, so the
    * within-hash pair fan-out is bounded at C(N,2) by construction.
    * Input: (idCol, hashCol) frame fingerprint rows (duplicates per media
    * collapse first). Output: (a_id, b_id, n_shared). */
  def frameOverlap(frames: DataFrame, idCol: String, hashCol: String,
                   maxFrameDocs: Int = 16): DataFrame = {
    val perDoc = frames.select(col(idCol), col(hashCol)).distinct()
    val keepHashes = perDoc.groupBy(col(hashCol))
      .agg(count(lit(1)).as("nf"))
      .filter(col("nf") >= 2 && col("nf") <= maxFrameDocs)
      .select(col(hashCol))
    val kept = perDoc.join(keepHashes, Seq(hashCol), "left_semi")
    val a = kept.select(col(hashCol), col(idCol).as("a_id"))
    val b = kept.select(col(hashCol), col(idCol).as("b_id"))
    a.join(b, Seq(hashCol))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** m07: perceptual media dedup APPLY — close the loop m05 opens: from
    * the pair stream ([[frameOverlap]] over [[graft.functions.DHash64]]
    * fingerprints — re-encodes match their originals because the dHash
    * survives monotone byte remaps), cluster with the dedup family's
    * pointer-jumping [[graft.operators.Dedup.connectedComponents]] and
    * keep ONE representative per cluster (the min id — the cluster
    * label, the d09 convention), dropping every other member. A
    * re-encoded copy is removed even though every byte differs; the
    * original survives.
    *
    * Plan shape: clustering runs over the PAIR population (bounded by
    * m05's maxFrameDocs cap, never corpus²); the apply is one LEFT ANTI
    * hash join of the media ids against the non-representative cluster
    * members (tiny in the expected regime — broadcast). The media
    * payloads never join. Output: the surviving rows of `media`. */
  def perceptualDedupApply(media: DataFrame, idCol: String,
                           pairs: DataFrame,
                           aCol: String = "a_id",
                           bCol: String = "b_id"): DataFrame =
    perceptualDedupApplyFromClusters(media, idCol,
      graft.operators.Dedup.connectedComponents(pairs, aCol, bCol))

  /** The apply half alone, for callers holding a standing (id, cluster)
    * artifact (the memoized detect-once/report-many shape): one LEFT
    * ANTI join against the non-representative members. */
  def perceptualDedupApplyFromClusters(media: DataFrame, idCol: String,
                                       clusters: DataFrame): DataFrame = {
    val drops = clusters
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    media.join(drops, Seq(idCol), "left_anti")
  }

  // ---- REAL codec paths (round 14): BMP pixels, WAV samples --------------
  //
  // The generative pixel/sample rules below are the shared contract with
  // the DuckDB oracles (the planted-payload convention): the engine goes
  // text -> pixels -> ENCODE to real container bytes -> DECODE -> features,
  // the oracle computes the same features from the text-domain rule
  // directly. They agree iff the codec round-trip (row order, BGR channel
  // order, 4-byte row padding, chunk walk, LE sample decode) is faithful.
  // Golden-byte fixtures in CodecSpec additionally pin the layouts to the
  // PUBLIC spec, so a symmetric encoder+decoder deviation cannot hide.

  /** The m09/m11 pixel rule (i = row-major pixel index, L = text length):
    * blue = byte(i mod L); green = (byte((2i) mod L) + 7*row + 13*col)
    * mod 251; red = 31*i mod 251 (text-independent — a channel-order bug
    * surfaces as a text-independent blue_sum). */
  /** The m09–m14 generative rules index text BYTES on the engine side and
    * codepoints via `ascii()`/`len()` on the DuckDB-oracle side — those
    * agree only on printable ASCII, and textPcm's `(b-96)*512 + i` stays
    * inside 16-bit only for bytes in [32,159]. Guarded here so a future
    * non-ASCII corpus fails LOUDLY at render instead of hash-mismatching
    * mysteriously at the oracle gate. */
  /** The CODEPOINT-domain text convention (round 16, replacing the hard
    * printable-ASCII requires): every media pixel/sample rule reads
    * Unicode codepoints folded into the printable band —
    * cpFold(c) = 32 + floorMod(c − 32, 95) — the IDENTITY on printable
    * ASCII (so every committed oracle value is unchanged on the driver
    * corpus) and a total function on any corpus (a non-ASCII document
    * renders instead of aborting the dump). The SQL mirror both engines
    * compute: 32 + ((ascii(ch) − 32) % 95 + 95) % 95 — DuckDB's ascii()
    * is the codepoint and its substr/len are codepoint-indexed, matching
    * Java's codePoints() walk (surrogate pairs count once on both). */
  private[graft] def textCps(text: String, who: String): Array[Int] = {
    require(text.nonEmpty, s"$who needs a non-empty payload")
    text.codePoints.toArray.map(c => 32 + Math.floorMod(c - 32, 95))
  }

  def textImage(text: String, width: Int, height: Int): Codecs.Image = {
    val tb = textCps(text, "textImage")
    val rgb = new Array[Byte](width * height * 3)
    var i = 0
    val n = width * height
    while (i < n) {
      val blue = tb(i % tb.length)
      val green = (tb((2 * i) % tb.length) +
        (i / width) * 7 + (i % width) * 13) % 251
      val red = (i * 31) % 251
      rgb(i * 3) = red.toByte
      rgb(i * 3 + 1) = green.toByte
      rgb(i * 3 + 2) = blue.toByte
      i += 1
    }
    Codecs.Image(width, height, rgb)
  }

  /** Render each doc as a REAL 24-bit BMP of [[textImage]] pixels.
    * `topDown` writes the negative-height encoding — byte-different,
    * pixel-identical (the m11 planted construction). */
  def renderBmpTable(documents: DataFrame, width: Int, height: Int,
                     topDown: Boolean = false,
                     idOffset: Long = 0L): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInputPlain(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          MediaRow(id + idOffset,
            Codecs.encodeBmp(textImage(text, width, height), topDown),
            if (topDown) "image/bmp;topdown" else "image/bmp")
        }
      }
  }

  /** Render each doc as a REAL compressed PNG of [[textImage]] pixels —
    * even doc_ids truecolor+alpha (color type 6, alpha = 255 − blue so
    * the 4th filter channel is data-bearing), odd doc_ids truecolor
    * (type 2); every image's scanlines cycle all five PNG filter types
    * (encoder contract, [[Codecs.encodePng]]), and the IDAT stream is
    * split in two. Same pixel domain as [[renderBmpTable]]: the
    * cross-codec dedup construction (m15) rests on that. */
  def renderPngTable(documents: DataFrame, width: Int, height: Int,
                     idOffset: Long = 0L,
                     spread: Boolean = true): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    (if (spread) renderInput(documents) else renderInputPlain(documents)).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val rgba = id % 2 == 0
          MediaRow(id + idOffset,
            Codecs.encodePng(textImage(text, width, height), rgba),
            if (rgba) "image/png;rgba" else "image/png")
        }
      }
  }

  /** Render each doc as a REAL PNG across ALL FOUR supported color types
    * by doc_id mod 4 — 0: truecolor+alpha (6), 1: truecolor (2),
    * ADAM7-INTERLACED (the per-pass filter + scatter path),
    * 2: PALETTE (3, [[gifPalette]] PLTE with index(i) = byte(i mod L)),
    * 3: GRAYSCALE (0, v(i) = byte(i mod L)) — the real-web admission mix
    * (m14's corpus). All four share the SAME blue-channel rule
    * (byte(i mod L): truecolor blue, palette entry blue = its index,
    * gray value), so blue_sum is one oracle formula while dhash exercises
    * each type's own decode path (PLTE lookup / gray replication). */
  def renderPngTableMixed(documents: DataFrame, width: Int,
                          height: Int): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInput(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          (id % 4) match {
            case 0 => MediaRow(id,
              Codecs.encodePng(textImage(text, width, height), rgba = true),
              "image/png;rgba")
            case 1 => MediaRow(id,
              Codecs.encodePng(textImage(text, width, height),
                interlaced = true),
              "image/png;adam7")
            case 2 =>
              val tb = textCps(text, "renderPngTableMixed")
              val indices = new Array[Byte](width * height)
              var i = 0
              while (i < indices.length) { indices(i) = tb(i % tb.length).toByte; i += 1 }
              MediaRow(id,
                Codecs.encodePngPalette(width, height, gifPalette, indices),
                "image/png;palette")
            case _ =>
              val tb = textCps(text, "renderPngTableMixed")
              val rgb = new Array[Byte](width * height * 3)
              var i = 0
              val n = width * height
              while (i < n) {
                val v = tb(i % tb.length).toByte
                rgb(i * 3) = v; rgb(i * 3 + 1) = v; rgb(i * 3 + 2) = v
                i += 1
              }
              MediaRow(id,
                Codecs.encodePngGray(Codecs.Image(width, height, rgb)),
                "image/png;gray")
          }
        }
      }
  }

  /** The m27 ADMISSION-MIX corpus: each doc lands in one of TEN container
    * classes by doc_id mod 10 — seven that a correct gate ADMITS (BMP,
    * palette PNG, GIF, 4:2:0 JPEG, float WAV, a PROGRESSIVE 4:2:0 JPEG,
    * and — round 17 — a two-frame MJPEG AVI: one per decode family,
    * images + audio + video) and three it must REJECT with a
    * DETERMINISTIC reason (a PNG truncated at byte 20 — inside the
    * constant corpus-wide prefix, so the chunk-bound message is one
    * string; a JPEG whose SOF precision byte is flipped to 12-bit; an
    * unrecognized 'MP4 ' magic). Deterministic reasons are what make the
    * gate REPORT (per-class admit/reject/reason counts) oracle-checkable
    * instead of merely plausible. */
  def renderAdmissionMixTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInput(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          def gifIndices(w: Int, h: Int): Array[Byte] = {
            val tb = textCps(text, "renderAdmissionMixTable")
            Array.tabulate(w * h)(i => tb(i % tb.length).toByte)
          }
          (id % 10) match {
            case 0 => MediaRow(id, Codecs.encodeBmp(textImage(text, 25, 16)),
              "image/bmp")
            case 1 => MediaRow(id, Codecs.encodePngPalette(25, 16, gifPalette,
              gifIndices(25, 16)), "image/png;palette")
            case 2 => MediaRow(id, Codecs.encodeGif(25, 16, gifPalette,
              gifIndices(25, 16)), "image/gif")
            case 3 => MediaRow(id, Codecs.encodeJpeg(blockGrayImage(text),
              lumaH = 2, lumaV = 2), "image/jpeg;s22")
            case 4 => MediaRow(id, Codecs.encodeWavFloat(textPcm(id, text)),
              "audio/wav;float32")
            case 5 => MediaRow(id, Codecs.encodeJpegProgressive(
              blockGrayImage(text), lumaH = 2, lumaV = 2),
              "image/jpeg;progressive;s22")
            case 6 => // signature + IHDR header + 8 data bytes: the cut
              // lands inside the corpus-constant 25x16 prefix, so the
              // decoder's bound message is one deterministic string
              MediaRow(id, Codecs.encodePng(textImage(text, 25, 16)).take(20),
                "image/png;truncated")
            case 7 =>
              val b = Codecs.encodeJpeg(blockGrayImage(text), lumaH = 2, lumaV = 2)
              // flip the SOF precision byte (8 → 12): a named rejection
              var i = 2
              var at = -1
              while (at < 0 && i < b.length - 1) {
                if ((b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xFF) == 0xC0) at = i + 1
                i += 1
              }
              require(at > 0, "encoder emitted no SOF0 marker?")
              b(at + 3) = 12.toByte // marker, len16, THEN precision
              MediaRow(id, b, "image/jpeg;12bit")
            case 8 => MediaRow(id,
              ("MP4 " + text).getBytes("US-ASCII"), "video/mp4;unsupported")
            case _ => MediaRow(id, // 9: two-frame MJPEG AVI, the video class
              Codecs.encodeAvi(Seq(
                Codecs.encodeJpeg(blockGrayImage(text)),
                Codecs.encodeJpeg(blockGrayImage(text, shift = 7))), 64, 64),
              "video/avi;mjpeg")
          }
        }
      }
  }

  /** The m17 GIF palette — a fixed public rule the oracle can mirror:
    * entry k is (red 255−k, green (2k) mod 251, blue k). Blue = k means
    * the palette LOOKUP is pinned by every blue-derived feature, and the
    * GIF's blue channel equals [[textImage]]'s blue channel when the
    * pixel INDEX rule is index(i) = byte(i mod L) — which is what lets a
    * GIF pair with the BMP/PNG of the same doc through the row
    * fingerprints (the cross-codec construction, m18). 128 entries cover
    * the printable-ASCII index range. */
  private[graft] val gifPalette: Array[Int] =
    Array.tabulate(128)(k => ((255 - k) << 16) | (((2 * k) % 251) << 8) | k)

  /** Render each doc as a REAL GIF89a — LZW-compressed (the third
    * compression family: BMP none, PNG zlib, GIF LZW), 128-entry global
    * color table per [[gifPalette]], pixel index(i) = text byte(i mod L),
    * a Graphic Control Extension before the image block (the
    * extension-walk is load-bearing), and even doc_ids INTERLACED (the
    * four-pass row order — byte-level row permutation the decoder must
    * undo, so the interlace path is data-bearing on half the corpus). */
  def renderGifTable(documents: DataFrame, width: Int, height: Int,
                     idOffset: Long = 0L,
                     spread: Boolean = true): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    (if (spread) renderInput(documents) else renderInputPlain(documents)).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val tb = textCps(text, "renderGifTable")
          val indices = new Array[Byte](width * height)
          var i = 0
          while (i < indices.length) { indices(i) = tb(i % tb.length).toByte; i += 1 }
          val interlaced = id % 2 == 0
          MediaRow(id + idOffset,
            Codecs.encodeGif(width, height, gifPalette, indices, interlaced),
            if (interlaced) "image/gif;interlaced" else "image/gif")
        }
      }
  }

  /** Render each doc as a REAL MJPEG AVI — F = 2 + (doc_id mod 3) frames,
    * frame f a complete baseline JPEG of [[blockGrayImage]] with the
    * block-value rule ROTATED by 7f (the m21 animated-GIF convention, so
    * every frame is a different image and a frame-order slip changes
    * hashes), 25 fps (40 000 µs/frame) in the avih/strh headers. The
    * container is the full public AVI RIFF form: hdrl with
    * MainAVIHeader + vids/MJPG stream headers, the movi '00dc' list,
    * and an idx1 index. */
  def renderAviTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInput(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val nFrames = 2 + (id % 3).toInt
          val imgs = (0 until nFrames).map(f =>
            blockGrayImage(text, shift = 7 * f))
          // BOTH real frame encodings by parity: even docs MJPEG
          // (lossy — the m19 quantized closed form per frame), odd docs
          // uncompressed BI_RGB '00db' bitmaps (lossless — raw values)
          if (id % 2 == 0)
            MediaRow(id,
              Codecs.encodeAvi(imgs.map(Codecs.encodeJpeg(_)), 64, 64,
                usPerFrame = 40000),
              s"video/avi;mjpeg;f$nFrames")
          else
            MediaRow(id, Codecs.encodeAviDib(imgs, usPerFrame = 40000),
              s"video/avi;dib;f$nFrames")
        }
      }
  }

  /** m34 plant: each doc RE-ENCODED as an MJPEG AVI of the SAME frames
    * the [[renderAviTable]] convention renders (F = 2 + srcId mod 3,
    * frame f = [[blockGrayImage]] rotated by 7f) — the cross-codec
    * lossy re-upload of a video the lake already holds as uncompressed
    * DIB. Frame count and content follow the SOURCE id; only the row id
    * is offset. Callers plant ODD source docs (the DIB half of the
    * corpus) with an ODD `idOffset` so the variant id's parity matches
    * [[decodedAviFrameMeta]]'s codec-parity rule (even → MJPG). */
  def renderAviMjpegVariantTable(documents: DataFrame,
                                 idOffset: Long,
                                 spread: Boolean = true): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    (if (spread) renderInput(documents) else renderInputPlain(documents)).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val nFrames = 2 + (id % 3).toInt
          val imgs = (0 until nFrames).map(f =>
            blockGrayImage(text, shift = 7 * f))
          MediaRow(id + idOffset,
            Codecs.encodeAvi(imgs.map(Codecs.encodeJpeg(_)), 64, 64,
              usPerFrame = 40000),
            s"video/avi;mjpeg;f$nFrames")
        }
      }
  }

  /** m30 output: one row per SAMPLED frame (every `stride`-th), with the
    * container facts (header frame count, frame duration) and the
    * decoded-pixel features of the m19 convention — neutral chroma
    * REQUIRED, gray_sum/dhash over the decoded frame. Skipped frames are
    * never JPEG-decoded (the [[AviVideo]] frames stay compressed until
    * sampled — frame sampling must not pay full decode for frames it
    * drops). */
  final case class AviFrameMeta(doc_id: Long, n_frames: Long,
                                us_per_frame: Long, frame_idx: Long,
                                gray_sum: Long, dhash: Long)

  /** Stride-2 AVI frame meta memoized in [[ArtifactStore]] — the
    * [[memoizedJpegMeta]] pattern: m30 reads the sampled-frame rows
    * verbatim, m31 aggregates the same rows into video fingerprints, so
    * the corpus renders + samples ONCE per session+dir (tiny rows: 6
    * longs per kept frame; materialized via localCheckpoint, cost in the
    * `warmup_artifacts` ledger) instead of once per consumer. The
    * artifact build itself keeps the sampler's laziness — skipped frames
    * never JPEG-decode. */
  def memoizedAviFrameMeta(documents: DataFrame,
                           cacheKey: String): Dataset[AviFrameMeta] =
    ArtifactStore.get("avi_meta", documents.sparkSession, cacheKey) {
      // decode in parallel (renderAviTable spreads), then land the tiny
      // artifact back at the SOURCE scan's partition count — consumers
      // (m31's aggregates, m34/m35/m36's probes) read it many times per
      // bench, and leaving it at decode parallelism charged every read
      // ~32 near-empty tasks (triple-measured: m31 0.15 -> 0.48 s,
      // m34 0.44 -> 1.18 s). Scale-adaptive, not a constant: at 100 TB
      // the corpus scan has thousands of splits and the artifact keeps
      // them. max(1, ..) guards the empty-corpus scan (0 partitions).
      decodedAviFrameMeta(renderAviTable(documents), stride = 2)
        .repartition(math.max(1, documents.rdd.getNumPartitions))
        .localCheckpoint()
    }

  def decodedAviFrameMeta(media: Dataset[MediaRow],
                          stride: Int): Dataset[AviFrameMeta] = {
    require(stride >= 1, s"frame stride $stride must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val avi = Codecs.decodeAviFrames(r.media)
        // the render's parity rule, REQUIRED back: a decoder that
        // silently fell back to one codec would fail here, not match
        require(avi.codec == (if (r.doc_id % 2 == 0) "MJPG" else "DIB"),
          s"doc ${r.doc_id}: unexpected AVI frame codec ${avi.codec}")
        (0 until avi.frames.size by stride).map { f =>
          val img = Codecs.decodeAviFrame(avi, avi.frames(f))
          require(img.width == avi.width && img.height == avi.height,
            s"doc ${r.doc_id} frame $f: ${img.width}x${img.height} frame " +
              s"inside a ${avi.width}x${avi.height} AVI")
          val n = img.width * img.height
          var graySum = 0L
          var i = 0
          while (i < n) {
            require(img.rgb(i * 3 + 1) == img.rgb(i * 3) &&
              img.rgb(i * 3 + 2) == img.rgb(i * 3),
              s"doc ${r.doc_id} frame $f: chroma came back non-neutral")
            graySum += img.rgb(i * 3) & 0xFF
            i += 1
          }
          AviFrameMeta(r.doc_id, avi.frames.size.toLong,
            avi.usPerFrame.toLong, f.toLong, graySum, dhash56(img))
        }
      }
    }
  }

  /** The shared per-payload VIDEO fingerprint kernel — m31's sampled-
    * sequence rule as one scan-side call: decode the AVI container, dHash
    * every `stride`-th frame (skipped frames never decode — the m30
    * sampler's laziness), return (header frame count, ordered csv of the
    * sampled frames' 56-bit dHashes). Codec-agnostic (MJPEG and DIB both
    * land on decoded pixels) and corpus-convention-free — no parity rule,
    * so a generic ingest API can run it on arbitrary arrivals. Used by
    * BOTH [[decodedVideoFingerprints]] (the m35 batch probe) and
    * [[graft.streaming.EventStreams.videoProbeStream]] (the ingest twin),
    * so the two sides cannot drift. */
  def videoFingerprintOf(payload: Array[Byte], stride: Int = 2): (Long, String) = {
    require(stride >= 1, s"frame stride $stride must be positive")
    val avi = Codecs.decodeAviFrames(payload)
    val hs = (0 until avi.frames.size by stride)
      .map(f => dhash56(Codecs.decodeAviFrame(avi, avi.frames(f))))
    (avi.frames.size.toLong, hs.mkString(","))
  }

  /** m35 batch side: one (doc_id, n_frames, fp) row per video through
    * [[videoFingerprintOf]]. */
  def decodedVideoFingerprints(media: Dataset[MediaRow],
                               stride: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (n, fp) = videoFingerprintOf(r.media, stride)
        (r.doc_id, n, fp)
      }
    }.toDF("doc_id", "n_frames", "fp")
  }

  /** The [[graft.multimodal.Multimodal.AviFrameMeta]] rows aggregated to
    * the m31 video fingerprint — (doc_id, n_frames, fp): the ordered csv
    * of the sampled frames' dHashes. m35's corpus side reads this off the
    * SAME memoized `avi_meta` artifact m30/m31 consume (render + sample
    * once); the kernel-computed delta side matches it string-for-string
    * (both are oracle-pinned to the closed form). */
  def aviMetaFingerprints(meta: DataFrame): DataFrame =
    meta.groupBy(col("doc_id"), col("n_frames"))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("frame_idx"), col("dhash")))),
        f => f.getField("dhash").cast("string"))).as("fp"))

  /** m35 probe: arriving videos' fingerprints equi-join the standing
    * corpus table on (n_frames, fp) — exact sampled-sequence identity,
    * the m31 dedup semantics as a delta-vs-corpus admission check.
    * Bounded by the delta, never corpus². Output: (new_id, old_id,
    * n_frames). */
  def videoFpProbe(deltaFp: DataFrame, corpusFp: DataFrame): DataFrame =
    deltaFp.select(col("doc_id").as("new_id"), col("n_frames"), col("fp"))
      .join(corpusFp.select(col("doc_id").as("old_id"), col("n_frames"),
        col("fp")), Seq("n_frames", "fp"))
      .select(col("new_id"), col("old_id"), col("n_frames"))

  /** One payload's admission verdict + (optionally) its per-modality
    * fingerprints, from a SINGLE decode (round 19, guide §1.2/§5): the
    * decode-gate switch that [[graft.streaming.EventStreams.mediaDecodeGateStream]]
    * runs, extended so the admission pipeline's later dup probes read
    * fingerprints computed from the SAME decoded samples/frames instead
    * of re-decoding the payload per stage. `wantFps = false` is exactly
    * the gate (fingerprint fields zero/None, no extra work — the stream
    * gate must not pay for features it discards); `wantFps = true` adds
    * the [[audioFingerprintOf]] energies over the one decoded PCM and
    * [[dhash56]] over the stride-sampled frames the gate's validation
    * loop already decoded. One switch, one reason vocabulary — the gate
    * and the pipeline cannot drift. */
  final case class AdmissionVerdict(
      kind: String, metaA: Long, metaB: Long, admit: Boolean, reason: String,
      audioFp: Long, audioEnergies: Option[Seq[Long]],
      videoNFrames: Long, videoFp: Option[String])

  def admissionFeaturesOf(payload: Array[Byte], wantFps: Boolean,
                          windowSamples: Int = 16,
                          stride: Int = 2): AdmissionVerdict = {
    def kindOf(b: Array[Byte]): String =
      if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
      else if (b.length >= 2 && (b(0) & 0xFF) == 0x89 && b(1) == 'P') "png"
      else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == '8') "gif"
      else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == 'F') {
        // RIFF is a container FAMILY: the form type at offset 8
        // says which member (WAVE audio, 'AVI ' video, anything
        // else is out of scope and drops with the magic reason)
        val form = new String(b, 8, 4, "US-ASCII")
        if (form == "WAVE") "wav"
        else if (form == "AVI ") "avi"
        else "unknown"
      }
      else if (b.length >= 2 && (b(0) & 0xFF) == 0xFF &&
        (b(1) & 0xFF) == 0xD8) "jpeg"
      else "unknown"
    val kind = kindOf(payload)
    try kind match {
      case "bmp" | "png" | "gif" | "jpeg" =>
        val img = Codecs.decodeImage(payload)
        AdmissionVerdict(kind, img.width.toLong, img.height.toLong, true, "",
          0L, None, 0L, None)
      case "wav" =>
        val pcm = Codecs.decodeWav(payload)
        val fp = if (wantFps) Some(audioFingerprintOf(pcm.samples, windowSamples))
                 else None
        AdmissionVerdict(kind, pcm.sampleRate.toLong, pcm.samples.length.toLong,
          true, "", fp.map(_._1).getOrElse(0L), fp.map(_._2.toSeq), 0L, None)
      case "avi" =>
        // genuinely decode: the container walk AND every frame
        // (MJPEG or raw DIB) — an AVI whose Nth frame is corrupt
        // must drop here, not after it landed in the lake
        val avi = Codecs.decodeAviFrames(payload)
        val hs = Seq.newBuilder[Long]
        avi.frames.zipWithIndex.foreach { case (f, i) =>
          val img = Codecs.decodeAviFrame(avi, f)
          // the decoded-frame/header geometry agreement
          // decodedAviFrameMeta requires, enforced at admission:
          // a mixed-geometry AVI (MJPEG frames are self-describing,
          // so a frame CAN disagree with avih/strf) must not land
          // with header dims that do not describe its frames
          require(img.width == avi.width && img.height == avi.height,
            s"frame $i: ${img.width}x${img.height} frame inside a " +
              s"${avi.width}x${avi.height} AVI")
          // the [[videoFingerprintOf]] sample rule (every stride-th
          // frame), computed off the frame this loop just decoded
          if (wantFps && i % stride == 0) hs += dhash56(img)
        }
        AdmissionVerdict(kind, avi.width.toLong, avi.height.toLong, true, "",
          0L, None, avi.frames.size.toLong,
          if (wantFps) Some(hs.result().mkString(",")) else None)
      case _ =>
        AdmissionVerdict(kind, 0L, 0L, false, "unrecognized container magic",
          0L, None, 0L, None)
    } catch {
      // NonFatal, not just IllegalArgumentException: a crafted header
      // can route a decoder into AIOOBE/NegativeArraySize paths that
      // escape the require() contract, and one corrupt payload must
      // drop with a reason — never abort the whole ingest query.
      case scala.util.control.NonFatal(e) =>
        // strip Scala's require() preamble: reasons are operator-
        // facing report data, not stack-trace text
        val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          .stripPrefix("requirement failed: ")
        AdmissionVerdict(kind, 0L, 0L, false, msg, 0L, None, 0L, None)
    }
  }

  /** The m37 single-pass feature table: one row per media row carrying
    * the gate verdict AND the per-modality fingerprints, all from ONE
    * decode of each payload ([[admissionFeaturesOf]] with
    * `wantFps = true`). Round 18's m37 decoded every payload in the
    * gate stage and then RE-decoded the admitted audio/video slices in
    * their dup-probe stages — and the per-stage checkpoints materialized
    * the binary payloads three times over; over this frame the pipeline
    * checkpoints narrow feature rows and the blobs never leave their
    * render task. Output: (doc_id, format, gate_admit, gate_reason,
    * afp, aenergies, vn_frames, vfp). */
  def admissionMediaFeatures(media: DataFrame, windowSamples: Int = 16,
                             stride: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"), col("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, format) =>
          val v = admissionFeaturesOf(payload, wantFps = true,
            windowSamples, stride)
          (id, format, v.admit, v.reason, v.audioFp, v.audioEnergies,
            v.videoNFrames, v.videoFp)
        }
      }
      .toDF("doc_id", "format", "gate_admit", "gate_reason", "afp",
        "aenergies", "vn_frames", "vfp")
  }

  /** Per-frame LSH band keys over an (doc_id, n_frames, frame_idx,
    * dhash) sampled-frame table — the m34 recipe (4 × 14-bit bands),
    * with hot buckets CAPPED at `bucketCap` members per (frame_idx,
    * band, bucket): flat/boilerplate frames shared by more than
    * `bucketCap` videos stop generating candidates (the GramIndex
    * doc-frequency discipline applied to frames). The capped table is
    * the standing PROBE artifact of [[videoBandProbe]] and
    * [[graft.streaming.EventStreams.videoBandProbeStream]]. */
  def aviBandTable(meta: DataFrame, bucketCap: Int = 16): DataFrame = {
    val bands = meta.select(col("doc_id"), col("n_frames"), col("frame_idx"),
        explode(array((0 until 4).map(k => struct(lit(k).as("band"),
          shiftright(col("dhash"), 14 * k).bitwiseAND(lit(16383L))
            .as("bucket"))): _*)).as("bk"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val keep = bands.groupBy(col("frame_idx"), col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= bucketCap)
      .select(col("frame_idx"), col("band"), col("bucket"))
    bands.join(keep, Seq("frame_idx", "band", "bucket"))
  }

  /** m36: delta-vs-corpus TOLERANT video probe — the m34 cross-codec
    * discipline in the d13/m33 ingest shape: arriving videos' SAMPLED
    * frames band-probe the standing corpus frame table (one clean band
    * on ANY shared frame nominates; both sides' hot buckets capped at
    * `bucketCap`, so fan-out is bounded by the DELTA plus its
    * collisions, never corpus²), and candidates verify over the full
    * sampled-sequence join: header frame counts equal AND max per-frame
    * Hamming ≤ `maxHamming`. This is what catches a LOSSY re-upload
    * (an MJPEG re-encode of a video the lake holds as DIB) that the
    * exact [[videoFpProbe]] is blind to. Inputs are (doc_id, n_frames,
    * frame_idx, dhash) frame tables (delta via [[decodedAviFrameMeta]],
    * corpus via the memoized artifact). Output: (new_id, old_id,
    * n_frames, max_frame_hamming). */
  def videoBandProbe(deltaMeta: DataFrame, corpusMeta: DataFrame,
                     maxHamming: Int = 4, bucketCap: Int = 16): DataFrame = {
    val cB = aviBandTable(corpusMeta, bucketCap)
      .select(col("doc_id").as("old_id"), col("n_frames"),
        col("frame_idx"), col("band"), col("bucket"))
    val dB = aviBandTable(deltaMeta, bucketCap)
      .select(col("doc_id").as("new_id"), col("n_frames"),
        col("frame_idx"), col("band"), col("bucket"))
    val cand = dB.join(cB, Seq("n_frames", "frame_idx", "band", "bucket"))
      .select(col("new_id"), col("old_id"), col("n_frames"))
      .distinct()
    val fa = deltaMeta.select(col("doc_id").as("new_id"), col("frame_idx"),
      col("dhash").as("ah"))
    val fb = corpusMeta.select(col("doc_id").as("old_id"), col("frame_idx"),
      col("dhash").as("bh"))
    cand.join(fa, Seq("new_id")).join(fb, Seq("old_id", "frame_idx"))
      .groupBy(col("new_id"), col("old_id"), col("n_frames"))
      .agg(max(expr("bit_count(ah ^ bh)")).cast("long")
        .as("max_frame_hamming"))
      .filter(col("max_frame_hamming") <= maxHamming)
  }

  /** The m19/m20 pixel rule: FLAT 8×8 BLOCKS, block b (row-major over an
    * 8×8 block grid) filled with gray v(b) = byte(b mod L), R = G = B.
    * Flat blocks are the oracle-exactness construction for a LOSSY DCT
    * codec: every AC coefficient is exactly 0 (the K rows sum to zero),
    * so the decoded value has the closed form 2·s·⌊(v−128+s)/2s⌋ + 128
    * (s = qscale) that DuckDB can recompute in integer SQL — while the
    * file still exercises the full real container (markers, Annex K
    * tables, Huffman, zigzag, byte stuffing, restarts, YCbCr). */
  def blockGrayImage(text: String, blocks: Int = 8,
                     shift: Int = 0): Codecs.Image = {
    val tb = textCps(text, "blockGrayImage")
    val side = blocks * 8
    val rgb = new Array[Byte](side * side * 3)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val b = (y / 8) * blocks + (x / 8)
        val v = tb((b + shift) % tb.length).toByte
        val p = (y * side + x) * 3
        rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
        x += 1
      }
      y += 1
    }
    Codecs.Image(side, side, rgb)
  }

  /** Render each doc as a REAL baseline JPEG of [[blockGrayImage]] pixels —
    * full YCbCr 4:4:4 (3 components: the chroma tables, Huffman pair, and
    * MCU interleave are all load-bearing even though the gray payload
    * lands chroma on exactly 128), Annex K tables scaled by `qscale`, and
    * even doc_ids carry DRI=2 with RSTn markers (the restart path is
    * data-bearing on half the corpus). */
  def renderJpegTable(documents: DataFrame, qscale: Int = 1,
                      idOffset: Long = 0L, lumaH: Int = 1,
                      lumaV: Int = 1,
                      spread: Boolean = true): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    (if (spread) renderInput(documents) else renderInputPlain(documents)).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val rst = if (id % 2 == 0) 2 else 0
          MediaRow(id + idOffset,
            Codecs.encodeJpeg(blockGrayImage(text), qscale = qscale,
              restartInterval = rst, lumaH = lumaH, lumaV = lumaV),
            s"image/jpeg;q$qscale;s$lumaH$lumaV" + (if (rst > 0) ";rst" else ""))
        }
      }
  }

  /** (doc_id, dhash) from decoded JPEGs, ASSERTING the SOF sampling
    * factors — the m25 gate: a decoder that silently fell back to 4:4:4
    * (or an encoder that never wrote the subsampled SOF) fails loudly
    * instead of producing a vacuous pair match. */
  def decodedSampledDHash(media: Dataset[MediaRow], wantH: Int,
                          wantV: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val jpg = Codecs.decodeJpeg(r.media)
        require(jpg.lumaH == wantH && jpg.lumaV == wantV,
          s"doc ${r.doc_id}: expected ${wantH}x$wantV luma sampling, " +
            s"decoded ${jpg.lumaH}x${jpg.lumaV}")
        (r.doc_id, dhash56(jpg.image))
      }
    }.toDF("doc_id", "dhash")
  }

  /** Render each doc as a rotated/flipped EXIF-tagged JPEG variant: the
    * stored pixels are [[blockGrayImage]] PRE-TRANSFORMED by the INVERSE
    * of the doc's orientation o = 2 + (doc_id mod 7) — every non-identity
    * EXIF value across the corpus — and the file carries o in an APP1
    * Exif segment. A correct decode + orientation NORMALIZATION therefore
    * restores exactly the original's pixels: the stored image is square
    * with flat 8×8 blocks, so every transform maps flat blocks to flat
    * block-aligned blocks and the lossy round trip commutes with the
    * rotation (the m19 closed form survives untouched). */
  def renderOrientedJpegTable(documents: DataFrame,
                              idOffset: Long): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInput(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val o = 2 + (id % 7).toInt
          val stored = Codecs.applyOrientation(blockGrayImage(text),
            Codecs.inverseOrientation(o))
          MediaRow(id + idOffset,
            Codecs.encodeJpeg(stored, orientation = o),
            s"image/jpeg;exif-o$o")
        }
      }
  }

  final case class OrientedDHash(doc_id: Long, orientation: Long, dhash: Long)

  /** (doc_id, orientation, dhash) from decoded JPEGs with the EXIF
    * orientation APPLIED before hashing — the normalization that makes
    * the 8 orientation variants of one photo dedup together. The decode
    * REQUIRES the tag to match the render rule (o = 2 + (doc_id − offset)
    * mod 7): a decoder that silently dropped the APP1 walk would read
    * orientation 1 and fail here instead of producing a vacuous match. */
  def decodedOrientedDHash(media: Dataset[MediaRow],
                           idOffset: Long): Dataset[OrientedDHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val jpg = Codecs.decodeJpeg(r.media)
        val want = 2 + ((r.doc_id - idOffset) % 7).toInt
        require(jpg.orientation == want,
          s"doc ${r.doc_id}: expected EXIF orientation $want, " +
            s"decoded ${jpg.orientation}")
        val normalized = Codecs.applyOrientation(jpg.image, jpg.orientation)
        OrientedDHash(r.doc_id, jpg.orientation.toLong, dhash56(normalized))
      }
    }
  }

  /** Render each doc as a PROGRESSIVE (SOF2) JPEG of [[blockGrayImage]]
    * pixels — spectral-selection scans (one interleaved DC scan + one AC
    * scan per component), even doc_ids 4:2:0-subsampled (the form real
    * web encoders emit: progressive AND chroma-subsampled), odd 4:4:4.
    * The flat-block payload decodes to EXACTLY the m19 closed-form
    * pixels (same quantizers, multi-scan coefficient assembly), which is
    * what lets the m28 oracle recompute a progressive decode in SQL. */
  def renderProgressiveJpegTable(documents: DataFrame,
                                 qscale: Int = 1): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInput(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val f = if (id % 2 == 0) 2 else 1
          MediaRow(id,
            Codecs.encodeJpegProgressive(blockGrayImage(text),
              qscale = qscale, lumaH = f, lumaV = f),
            s"image/jpeg;progressive;s$f$f")
        }
      }
  }

  /** m28 output: decoded-PROGRESSIVE-JPEG facts — the SOF2 flag and luma
    * sampling factor are REQUIRED (a silent sequential fallback fails
    * loudly), chroma must come back exactly neutral, and gray_sum/dhash
    * read the multi-scan-assembled pixels. */
  final case class ProgressiveJpegMeta(doc_id: Long, width: Long, height: Long,
                                       components: Long, luma_h: Long,
                                       gray_sum: Long, dhash: Long)

  def decodedProgressiveMeta(media: Dataset[MediaRow]): Dataset[ProgressiveJpegMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val jpg = Codecs.decodeJpeg(r.media)
        require(jpg.progressive,
          s"doc ${r.doc_id}: expected a progressive (SOF2) stream")
        require(jpg.lumaH == jpg.lumaV &&
          jpg.lumaH == (if (r.doc_id % 2 == 0) 2 else 1),
          s"doc ${r.doc_id}: unexpected sampling ${jpg.lumaH}x${jpg.lumaV}")
        val img = jpg.image
        val n = img.width * img.height
        var graySum = 0L
        var i = 0
        while (i < n) {
          require(img.rgb(i * 3 + 1) == img.rgb(i * 3) &&
            img.rgb(i * 3 + 2) == img.rgb(i * 3),
            s"doc ${r.doc_id}: chroma came back non-neutral at pixel $i")
          graySum += img.rgb(i * 3) & 0xFF
          i += 1
        }
        ProgressiveJpegMeta(r.doc_id, img.width.toLong, img.height.toLong,
          jpg.components.toLong, jpg.lumaH.toLong, graySum, dhash56(img))
      }
    }
  }

  /** m19 output: decoded-JPEG facts — dims and component count from SOF0,
    * the restart interval from DRI, the gray sum over DECODED (quantized)
    * pixels, and the 2-D [[dhash56]]. The decode asserts R=G=B on every
    * pixel: the chroma planes must come back EXACTLY neutral through
    * their own quant/Huffman tables, so any chroma-path bug fails loudly
    * rather than leaking into a gray feature. */
  final case class JpegMeta(doc_id: Long, width: Long, height: Long,
                            components: Long, restart_interval: Long,
                            gray_sum: Long, dhash: Long)

  /** Scale-1 JPEG meta memoized in [[ArtifactStore]] — the
    * build-once/consume-many pattern of the gram/MinHash/IVF indexes:
    * m19 reads the full meta, m20 reads (doc_id, dhash) for its scale-1
    * side, so the corpus renders+decodes ONCE per session+dir instead of
    * once per consumer. Materialized via localCheckpoint (tiny rows:
    * 7 longs/doc); the render cost lands in the `warmup_artifacts`
    * ledger, not in any single query's timing. */
  def memoizedJpegMeta(documents: DataFrame, cacheKey: String): Dataset[JpegMeta] =
    ArtifactStore.get("jpeg_meta", documents.sparkSession, cacheKey) {
      // same layout rule as avi_meta: parallel decode, compact landing
      decodedJpegMeta(renderJpegTable(documents))
        .repartition(math.max(1, documents.rdd.getNumPartitions))
        .localCheckpoint()
    }

  def decodedJpegMeta(media: Dataset[MediaRow]): Dataset[JpegMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val jpg = Codecs.decodeJpeg(r.media)
        val img = jpg.image
        val n = img.width * img.height
        var graySum = 0L
        var i = 0
        while (i < n) {
          val red = img.rgb(i * 3) & 0xFF
          require(img.rgb(i * 3 + 1) == img.rgb(i * 3) &&
            img.rgb(i * 3 + 2) == img.rgb(i * 3),
            s"doc ${r.doc_id}: chroma came back non-neutral at pixel $i")
          graySum += red
          i += 1
        }
        JpegMeta(r.doc_id, img.width.toLong, img.height.toLong,
          jpg.components.toLong, jpg.restartInterval.toLong, graySum,
          dhash56(img))
      }
    }
  }

  /** Integer BOX-AVERAGE resize (the training-pipeline downsample): output
    * pixel (gy,gx) = ⌊Σ tile / tileArea⌋ per channel, tiles exact
    * (width/height must divide — a silent fractional box would break the
    * oracle mirror; [[resizeNearest]] handles arbitrary geometry). */
  def resizeBox(img: Codecs.Image, outW: Int, outH: Int): Codecs.Image = {
    require(outW >= 1 && outH >= 1, s"degenerate resize target ${outW}x$outH")
    require(img.width % outW == 0 && img.height % outH == 0,
      s"box resize needs exact tiling: ${img.width}x${img.height} -> ${outW}x$outH")
    val tw = img.width / outW
    val th = img.height / outH
    val area = tw * th
    val out = new Array[Byte](outW * outH * 3)
    var gy = 0
    while (gy < outH) {
      var gx = 0
      while (gx < outW) {
        var ch = 0
        while (ch < 3) {
          var s = 0
          var r = 0
          while (r < th) {
            var c = 0
            while (c < tw) {
              s += img.rgb(((gy * th + r) * img.width + gx * tw + c) * 3 + ch) & 0xFF
              c += 1
            }
            r += 1
          }
          out((gy * outW + gx) * 3 + ch) = (s / area).toByte
          ch += 1
        }
        gx += 1
      }
      gy += 1
    }
    Codecs.Image(outW, outH, out)
  }

  /** Nearest-neighbor resize, any geometry: source pixel
    * (⌊x·w/outW⌋, ⌊y·h/outH⌋) — the [[dhash56]] sampling rule generalized
    * to arbitrary targets (up- AND downscale). */
  def resizeNearest(img: Codecs.Image, outW: Int, outH: Int): Codecs.Image = {
    require(outW >= 1 && outH >= 1, s"degenerate resize target ${outW}x$outH")
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = y * img.height / outH
      var x = 0
      while (x < outW) {
        val sx = x * img.width / outW
        val sp = (sy * img.width + sx) * 3
        val dp = (y * outW + x) * 3
        out(dp) = img.rgb(sp); out(dp + 1) = img.rgb(sp + 1)
        out(dp + 2) = img.rgb(sp + 2)
        x += 1
      }
      y += 1
    }
    Codecs.Image(outW, outH, out)
  }

  /** m22 output: RESIZED-domain features from decoded pixels — the box
    * average (integer, exact-tiling) and the nearest-neighbor sample,
    * each reduced to a blue sum and the first-N-blue gradient
    * fingerprint. The oracle recomputes both resizes from the text-domain
    * pixel rule, so a tile-geometry or rounding bug hash-mismatches. */
  final case class ResizeMeta(doc_id: Long, box_w: Long, box_h: Long,
                              box_sum: Long, box_fp: Long,
                              nn_sum: Long, nn_fp: Long)

  def resizedImageMeta(media: Dataset[MediaRow], boxW: Int, boxH: Int,
                       nnW: Int, nnH: Int): Dataset[ResizeMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = Codecs.decodeImage(r.media)
        def blueFeatures(im: Codecs.Image): (Long, Long) = {
          val n = im.width * im.height
          var s = 0L
          var fp = 0L
          var i = 0
          while (i < n) {
            val b = im.rgb(i * 3 + 2) & 0xFF
            s += b
            if (i >= 1 && i < 64) {
              if ((im.rgb((i - 1) * 3 + 2) & 0xFF) > b) fp |= 1L << (i - 1)
            }
            i += 1
          }
          (s, fp)
        }
        val (bs, bfp) = blueFeatures(resizeBox(img, boxW, boxH))
        val (ns, nfp) = blueFeatures(resizeNearest(img, nnW, nnH))
        ResizeMeta(r.doc_id, boxW.toLong, boxH.toLong, bs, bfp, ns, nfp)
      }
    }
  }

  /** Render each doc as a REAL multi-frame ANIMATED GIF89a: F = 3 +
    * (doc_id mod 3) frames, frame f's pixel index rule rotated by 7f
    * (index(i) = byte((i + 7f) mod L) — every frame is a different
    * image), per-frame delay 4 + f centiseconds in the Graphic Control
    * Extension, frame f INTERLACED iff (doc_id + f) is even (both row
    * orders inside one file), and a NETSCAPE2.0 loop extension carrying
    * doc_id mod 4. */
  def renderGifAnimTable(documents: DataFrame, width: Int, height: Int,
                         idOffset: Long = 0L): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInput(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val tb = textCps(text, "renderGifAnimTable")
          val nFrames = 3 + (id % 3).toInt
          val frames = (0 until nFrames).map { f =>
            val indices = new Array[Byte](width * height)
            var i = 0
            while (i < indices.length) {
              indices(i) = tb((i + 7 * f) % tb.length).toByte
              i += 1
            }
            (indices, (id + f) % 2 == 0, 4 + f)
          }
          MediaRow(id + idOffset,
            Codecs.encodeGifAnimated(width, height, gifPalette, frames,
              loops = (id % 4).toInt),
            s"image/gif;frames=$nFrames")
        }
      }
  }

  /** m21: the FRAME-SAMPLE verb — decode the animation, keep every
    * `stride`-th frame, emit one row per KEPT frame with its header facts
    * (frame count, loop count, per-frame delay and interlace flag) and
    * decoded-pixel features (blue sum + first-64-blue gradient
    * fingerprint, both sensitive to the per-frame rotation and to a
    * de-interlace slip on any individual frame). */
  final case class FrameSample(doc_id: Long, n_frames: Long, loops: Long,
                               frame_idx: Long, delay_cs: Long,
                               interlaced: Long, blue_sum: Long, fp: Long)

  def sampleGifFrames(media: Dataset[MediaRow], stride: Int): Dataset[FrameSample] = {
    require(stride >= 1, s"stride must be >= 1: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val anim = Codecs.decodeGifFrames(r.media)
      anim.frames.zipWithIndex.collect {
        case (fr, idx) if idx % stride == 0 =>
          val img = fr.image
          val n = img.width * img.height
          var blueSum = 0L
          var fp = 0L
          var i = 0
          while (i < n) {
            val b = img.rgb(i * 3 + 2) & 0xFF
            blueSum += b
            if (i >= 1 && i < 64) {
              if ((img.rgb((i - 1) * 3 + 2) & 0xFF) > b) fp |= 1L << (i - 1)
            }
            i += 1
          }
          FrameSample(r.doc_id, anim.frames.size.toLong, anim.loops.toLong,
            idx.toLong, fr.delayCs.toLong, if (fr.interlaced) 1L else 0L,
            blueSum, fp)
      }
    }
  }

  /** m17 output: decoded-GIF facts — dims and global-color-table size
    * from the parsed headers, the interlace flag (decoded evidence the
    * four-pass row map ran — it alternates by doc parity), the blue sum
    * (pins the palette lookup: palette blue = index), and the m09-style
    * first-64-blue gradient fingerprint, which is row-ORDER sensitive:
    * a de-interlace bug permutes rows 1 and 2 out of the first 64 pixels
    * and hash-mismatches, where blue_sum alone (permutation-invariant)
    * would not. */
  final case class GifMeta(doc_id: Long, width: Long, height: Long,
                           palette_size: Long, interlaced: Long,
                           blue_sum: Long, fp: Long)

  def decodedGifMeta(media: Dataset[MediaRow]): Dataset[GifMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val gif = Codecs.decodeGif(r.media)
        val img = gif.image
        val n = img.width * img.height
        var blueSum = 0L
        var i = 0
        while (i < n) { blueSum += img.rgb(i * 3 + 2) & 0xFF; i += 1 }
        var fp = 0L
        var j = 1
        while (j < 64 && j < n) {
          if ((img.rgb((j - 1) * 3 + 2) & 0xFF) > (img.rgb(j * 3 + 2) & 0xFF))
            fp |= 1L << (j - 1)
          j += 1
        }
        GifMeta(r.doc_id, img.width.toLong, img.height.toLong,
          gif.paletteSize.toLong, if (gif.interlaced) 1L else 0L, blueSum, fp)
      }
    }
  }

  /** m14 output: decoded-PNG features — the IHDR color type and its
    * channel count from the parsed header (all four supported types
    * cycle by doc_id mod 4 in the m14 corpus, so the header parse, the
    * PLTE lookup, and the gray replication are each data-bearing on a
    * quarter of it), the full 2-D [[dhash56]] and the blue channel sum
    * from inflated+unfiltered pixels. Every byte of the image passes
    * through zlib and one of the five filter reconstructions before any
    * feature is computed — the oracle recomputes the features from the
    * text-domain rule, so an inflate, filter, or palette bug
    * hash-mismatches. */
  final case class PngMeta(doc_id: Long, width: Long, height: Long,
                           color_type: Long, channels: Long,
                           interlaced: Long, blue_sum: Long, dhash: Long)

  def decodedPngMeta(media: Dataset[MediaRow]): Dataset[PngMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val png = Codecs.decodePng(r.media)
        val img = png.image
        val n = img.width * img.height
        var blueSum = 0L
        var i = 0
        while (i < n) { blueSum += img.rgb(i * 3 + 2) & 0xFF; i += 1 }
        val channels = png.colorType match {
          case 6 => 4L
          case 2 => 3L
          case _ => 1L // gray (0) and palette (3): one byte per pixel
        }
        PngMeta(r.doc_id, img.width.toLong, img.height.toLong,
          png.colorType.toLong, channels,
          if (png.interlaced) 1L else 0L, blueSum, dhash56(img))
      }
    }
  }

  /** m09 output: header metadata + pixel-derived features, all computed
    * from the DECODED image (never from the generative rule): channel
    * sums, a position-weighted green sum (row-order errors are sum-
    * invariant; the weight is not), and the 63-comparison gradient-sign
    * fingerprint over the first 64 blue values ([[graft.functions
    * .DHash64]] semantics, mirrored bit-for-bit by the oracle SQL). */
  final case class ImageMeta(doc_id: Long, width: Long, height: Long,
                             file_bytes: Long, blue_sum: Long,
                             green_wsum: Long, fp: Long)

  def decodedImageMeta(media: Dataset[MediaRow]): Dataset[ImageMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = Codecs.decodeBmp(r.media)
        val n = img.width * img.height
        var blueSum = 0L
        var greenW = 0L
        var i = 0
        while (i < n) {
          blueSum += img.rgb(i * 3 + 2) & 0xFF
          greenW += (i + 1).toLong * (img.rgb(i * 3 + 1) & 0xFF)
          i += 1
        }
        var fp = 0L
        var j = 1
        while (j < 64 && j < n) {
          if ((img.rgb((j - 1) * 3 + 2) & 0xFF) > (img.rgb(j * 3 + 2) & 0xFF))
            fp |= 1L << (j - 1)
          j += 1
        }
        ImageMeta(r.doc_id, img.width.toLong, img.height.toLong,
          r.media.length.toLong, blueSum, greenW, fp)
      }
    }
  }

  /** Per-image-ROW blue-channel gradient fingerprints from DECODED pixels —
    * the m11 "frames": one fingerprint per row, so two valid encodings of
    * the same image (bottom-up vs top-down BMP) produce identical frame
    * sets and pair up through [[frameOverlap]]. */
  def decodedRowFingerprints(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val img = Codecs.decodeImage(r.media)
      (0 until img.height).map { row =>
        var fp = 0L
        var c = 1
        while (c < img.width) {
          val a = img.rgb((row * img.width + c - 1) * 3 + 2) & 0xFF
          val b = img.rgb((row * img.width + c) * 3 + 2) & 0xFF
          if (a > b) fp |= 1L << (c - 1)
          c += 1
        }
        (r.doc_id, fp)
      }
    }.toDF("doc_id", "row_fp")
  }

  /** m12: the CLASSIC two-dimensional difference hash over DECODED
    * pixels — nearest-neighbor downsample to an 8×8 luminance grid
    * (gx → column ⌊gx·width/8⌋, gy → row ⌊gy·height/8⌋), luminance =
    * R+G+B (sum, not mean: integer, and order-equivalent for the
    * comparisons), bit gy·7+gx set iff lum(gy,gx) > lum(gy,gx+1) —
    * 7 horizontal comparisons × 8 rows = 56 bits, sign-safe in a
    * BIGINT on both engines. Unlike m09's 1-D first-64-blue gradient,
    * this consumes the full decoded 2-D geometry (all three channels,
    * both axes), so a row-order or channel-order codec bug anywhere in
    * the image surfaces. */
  /** The classic 2-D difference hash: nearest-neighbor 8×8 luminance
    * grid (R+G+B integer sum), 7 horizontal comparisons × 8 rows =
    * 56 sign-safe bits. Container-neutral — runs on any decoded
    * [[Codecs.Image]], which is what makes it a CROSS-codec fingerprint. */
  private def dhash56(img: Codecs.Image): Long = {
    val lum = Array.tabulate(8, 8) { (gy, gx) =>
      val px = gx * img.width / 8
      val py = gy * img.height / 8
      val p = (py * img.width + px) * 3
      (img.rgb(p) & 0xFF) + (img.rgb(p + 1) & 0xFF) + (img.rgb(p + 2) & 0xFF)
    }
    var fp = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 7) {
        if (lum(gy)(gx) > lum(gy)(gx + 1)) fp |= 1L << (gy * 7 + gx)
        gx += 1
      }
      gy += 1
    }
    fp
  }

  def decodedDHash(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = Codecs.decodeImage(r.media)
        (r.doc_id, img.width.toLong, img.height.toLong, dhash56(img))
      }
    }.toDF("doc_id", "width", "height", "dhash")
  }

  /** The m10 sample rule: s(i) = (byte(i mod L) − 96)·512 + (i mod 256) —
    * spaces (32) land deep negative, letters positive, so zero crossings
    * track word boundaries; the extremes sit exactly inside 16-bit range.
    * Sample rate varies per doc (8000 + (doc_id mod 5)·1000) so the
    * decoded `fmt ` parse is data-bearing, not a constant. */
  def textPcm(docId: Long, text: String, nSamples: Int = 256): Codecs.Pcm = {
    val tb = textCps(text, "textPcm")
    val samples = new Array[Short](nSamples)
    var i = 0
    while (i < nSamples) {
      samples(i) = ((tb(i % tb.length) - 96) * 512 + (i % 256)).toShort
      i += 1
    }
    Codecs.Pcm(8000 + (docId % 5).toInt * 1000, 1, samples)
  }

  /** Render each doc as a REAL RIFF/WAVE PCM-16 payload of [[textPcm]]
    * samples; even doc_ids carry a JUNK metadata chunk (odd-sized, padded)
    * between `fmt ` and `data`, so the decoder's chunk walk is exercised
    * on half the corpus. */
  def renderWavTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInputPlain(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          MediaRow(id, Codecs.encodeWav(textPcm(id, text), junkChunk = id % 2 == 0),
            "audio/wav")
        }
      }
  }

  /** Render each doc as a REAL G.711 μ-law WAV (format tag 7, 18-byte fmt
    * chunk + spec-required `fact` chunk) of [[textPcm]] samples folded
    * through [[Codecs.mulawCompress]] — the LOSSY audio path. Decoding
    * ([[Codecs.decodeWav]]) expands the 8-bit codes back to 16-bit linear,
    * so every downstream feature reads quantized samples: the m16 oracle
    * recomputes the identical compress→expand integer round trip in SQL,
    * and a companding-table error anywhere hash-mismatches. Even ids add
    * the odd-sized JUNK chunk (the m10 chunk-walk convention). */
  def renderMulawWavTable(documents: DataFrame,
                          idOffset: Long = 0L): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInputPlain(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val pcm = textPcm(id, text)
          val codes = new Array[Byte](pcm.samples.length)
          var i = 0
          while (i < codes.length) {
            codes(i) = Codecs.mulawCompress(pcm.samples(i)); i += 1
          }
          MediaRow(id + idOffset,
            Codecs.encodeWavMulaw(codes, pcm.sampleRate, pcm.channels,
              junkChunk = id % 2 == 0),
            "audio/wav;mulaw")
        }
      }
  }

  /** (doc_id, fp, energies) from decoded WAVs of ANY supported format —
    * the CROSS-CODEC audio fingerprint (m32): exact integer energies
    * Σs² per `windowSamples`-sample window, and a gradient-sign
    * fingerprint (bit w set iff e(w) > e(w+1) — the [[dhash56]] idea in
    * one dimension). Companding (μ-law/A-law) perturbs each window's
    * energy by a few percent but rarely flips an adjacent-window
    * ORDERING, so re-encodes of the same source land in the same
    * fingerprint bucket and verify by bounded energy deviation — while
    * every quantity stays exact integer arithmetic both engines (and
    * the m16-style SQL companding mirror) can recompute bit-for-bit. */
  /** The m32/m33 fingerprint kernel on decoded samples: exact integer
    * window energies + the adjacent-ordering gradient bits — shared by
    * the batch fingerprint table and the streaming ingest probe so the
    * two sides cannot drift. */
  private[graft] def audioFingerprintOf(samples: Array[Short],
                                        windowSamples: Int): (Long, Array[Long]) = {
    val n = samples.length / windowSamples
    val e = Array.tabulate(n) { w =>
      var s = 0L
      var i = 0
      while (i < windowSamples) {
        val x = samples(w * windowSamples + i).toLong
        s += x * x; i += 1
      }
      s
    }
    var fp = 0L
    var w = 0
    // the fingerprint is one Long, so only the first 64 adjacent-window
    // orderings can carry a bit — cap the loop there instead of letting
    // `1L << w` wrap mod 64 and silently alias window 64+k onto window k
    // (repo corpora run 16 windows, but audioProbeStream is a generic
    // ingest API over arbitrary WAVs). Windows past the cap still
    // contribute to the ENERGIES vector, so the deviation verify covers
    // the whole file even when the bucket key saturates.
    val gradBits = math.min(n - 1, 64)
    while (w < gradBits) {
      if (e(w) > e(w + 1)) fp |= 1L << w
      w += 1
    }
    (fp, e)
  }

  def decodedAudioFingerprints(media: Dataset[MediaRow],
                               windowSamples: Int = 16): DataFrame = {
    require(windowSamples >= 1, "windowSamples must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (fp, e) = audioFingerprintOf(
          Codecs.decodeWav(r.media).samples, windowSamples)
        (r.doc_id, fp, e.toSeq)
      }
    }.toDF("doc_id", "fp", "energies")
  }

  /** The corpus PCM16-WAV fingerprint table (doc_id, fp, energies),
    * memoized in [[ArtifactStore]] — the [[memoizedAviFrameMeta]] pattern for
    * the audio family. The STANDING corpus fingerprint table is exactly
    * the artifact a real ingest deployment keeps beside the lake (m33's
    * whole premise); round 18 measured m33 AND m37 each re-rendering and
    * re-decoding the corpus WAVs on every execution to rebuild it.
    * Tiny rows (2 longs + 16 energies per doc), materialized via
    * localCheckpoint, cost priced in `warmup_artifacts` as `wav_fp`.
    * Consumers slice it per doc_id (fingerprints are per-doc pure, so a
    * filtered read equals a filtered build). */
  def memoizedWavFingerprints(documents: DataFrame,
                              cacheKey: String): DataFrame =
    ArtifactStore.get("wav_fp", documents.sparkSession, cacheKey) {
      decodedAudioFingerprints(renderWavTable(documents)).localCheckpoint()
    }

  /** The delta-vs-corpus audio probe (m33, the d13/d21 ingest shape for
    * the audio family): arriving fingerprints equi-join the STANDING
    * corpus fingerprint table on fp — the join is bounded by the delta,
    * never corpus² — and survivors verify by the m32 integer deviation
    * bound. Output: (new_id, old_id, max_dev_bp), one row per flagged
    * (arrival, corpus match). */
  def audioFpProbe(deltaFp: DataFrame, corpusFp: DataFrame,
                   maxDevBp: Long): DataFrame =
    deltaFp.as("a").join(corpusFp.as("b"), col("a.fp") === col("b.fp"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"),
        expr("array_max(zip_with(a.energies, b.energies, " +
          "(x, y) -> abs(x - y) * 10000L DIV greatest(x, y, 1L)))")
          .as("max_dev_bp"))
      .filter(col("max_dev_bp") <= maxDevBp)

  /** Render each doc's [[textPcm]] samples through the two round-16 WAV
    * format tags by doc parity — even: IEEE FLOAT 32 (tag 3; the dyadic
    * s/32768 encoding makes the round trip LOSSLESS, so decoded features
    * equal m10's exact rule), odd: 8-bit PCM (tag 1 bits 8; top-byte
    * quantization, decoded samples the closed form (s ≫ 8) ≪ 8 =
    * 512·(byte − 96) under the textPcm rule). JUNK chunks on ids
    * divisible by 3, decorrelated from the format choice so both formats
    * exercise the chunk walk. */
  def renderWavVariantsTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInputPlain(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val pcm = textPcm(id, text)
          val junk = id % 3 == 0
          if (id % 2 == 0)
            MediaRow(id, Codecs.encodeWavFloat(pcm, junkChunk = junk),
              "audio/wav;float32")
          else {
            val codes = new Array[Byte](pcm.samples.length)
            var i = 0
            while (i < codes.length) {
              codes(i) = Codecs.pcm8Compress(pcm.samples(i)); i += 1
            }
            MediaRow(id,
              Codecs.encodeWavPcm8(codes, pcm.sampleRate, pcm.channels,
                junkChunk = junk),
              "audio/wav;pcm8")
          }
        }
      }
  }

  /** Render each doc's [[textPcm]] samples as a REAL A-law WAV (format
    * tag 6 — the G.711 companding law telephony actually deploys outside
    * North America): compress to 8-bit codes, 18-byte fmt + fact chunk,
    * JUNK on even ids. The m24 features read the QUANTIZED samples. */
  def renderAlawWavTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    renderInputPlain(documents).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val pcm = textPcm(id, text)
          val codes = new Array[Byte](pcm.samples.length)
          var i = 0
          while (i < codes.length) {
            codes(i) = Codecs.alawCompress(pcm.samples(i)); i += 1
          }
          MediaRow(id,
            Codecs.encodeWavAlaw(codes, pcm.sampleRate, pcm.channels,
              junkChunk = id % 2 == 0),
            "audio/wav;alaw")
        }
      }
  }

  /** m13: DECODED-PCM windows as binary frames — decode the WAV, slice
    * the sample stream into non-overlapping `windowSamples`-sample
    * windows, re-emit each as its little-endian byte image so the m06
    * energy gate ([[frameEnergyFilter]]/[[graft.functions.ByteEnergy]])
    * runs UNCHANGED over genuinely decoded audio. Digital silence
    * (constant samples → constant bytes) scores exactly 0 and drops;
    * real samples clear the threshold. Map-only: payload → samples →
    * windows inside one scan task. */
  def decodedPcmWindows(media: Dataset[MediaRow],
                        windowSamples: Int = 64): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val pcm = Codecs.decodeWav(r.media)
      val n = pcm.samples.length / windowSamples
      (0 until n).map { w =>
        val bytes = new Array[Byte](windowSamples * 2)
        var i = 0
        while (i < windowSamples) {
          val s = pcm.samples(w * windowSamples + i)
          bytes(2 * i) = (s & 0xFF).toByte
          bytes(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        Frame(r.doc_id, w, bytes)
      }
    }
  }

  /** m10 output: decoded header facts + integer sample features (sum,
    * word-boundary zero crossings, exact energy Σs²). */
  final case class AudioMeta(doc_id: Long, sample_rate: Long, n_channels: Long,
                             n_samples: Long, sum_samples: Long,
                             zero_cross: Long, energy: Long)

  /** m23 output: the audio RESAMPLE verb — integer box decimation by
    * `factor` over DECODED samples (y(j) = ⌊Σ block / factor⌋, floor
    * division so negative samples round the same way on both engines),
    * with the decimated rate read back out, plus sum, sign-change count,
    * and the first-64 gradient fingerprint of the RESAMPLED signal. The
    * oracle recomputes the decimation from the textPcm rule, so a block
    * boundary, rounding, or rate bug hash-mismatches. */
  final case class ResampleMeta(doc_id: Long, out_rate: Long, n_out: Long,
                                s_sum: Long, zc: Long, fp: Long)

  def resampledAudioMeta(media: Dataset[MediaRow],
                         factor: Int): Dataset[ResampleMeta] = {
    require(factor >= 1, s"decimation factor must be >= 1: $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val pcm = Codecs.decodeWav(r.media)
        require(pcm.samples.length % factor == 0,
          s"doc ${r.doc_id}: ${pcm.samples.length} samples not divisible by $factor")
        require(pcm.sampleRate % factor == 0,
          s"doc ${r.doc_id}: rate ${pcm.sampleRate} not divisible by $factor")
        val n = pcm.samples.length / factor
        val y = new Array[Long](n)
        var j = 0
        while (j < n) {
          var s = 0L
          var t = 0
          while (t < factor) { s += pcm.samples(j * factor + t); t += 1 }
          y(j) = Math.floorDiv(s, factor.toLong)
          j += 1
        }
        var sum = 0L
        var zc = 0L
        var fp = 0L
        var i = 0
        while (i < n) {
          sum += y(i)
          if (i >= 1) {
            if ((y(i - 1) < 0) != (y(i) < 0)) zc += 1
            if (i < 64 && y(i - 1) > y(i)) fp |= 1L << (i - 1)
          }
          i += 1
        }
        ResampleMeta(r.doc_id, (pcm.sampleRate / factor).toLong, n.toLong,
          sum, zc, fp)
      }
    }
  }

  def decodedAudioMeta(media: Dataset[MediaRow]): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val pcm = Codecs.decodeWav(r.media)
        var sum = 0L
        var zc = 0L
        var energy = 0L
        var i = 0
        while (i < pcm.samples.length) {
          val s = pcm.samples(i).toLong
          sum += s
          energy += s * s
          if (i > 0 && (pcm.samples(i - 1) < 0) != (pcm.samples(i) < 0)) zc += 1
          i += 1
        }
        AudioMeta(r.doc_id, pcm.sampleRate.toLong, pcm.channels.toLong,
          pcm.samples.length.toLong, sum, zc, energy)
      }
    }
  }

  /** Frame sampling for "video" payloads: every `stride`-th fixed-size
    * chunk. STUB chunking stands in for demux; the explode-shaped output
    * (one row per sampled frame) is the real contract. */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 64,
                   stride: Int = 4): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val n = r.media.length / frameBytes
      (0 until n by stride).map { f =>
        Frame(r.doc_id, f, r.media.slice(f * frameBytes, (f + 1) * frameBytes))
      }
    }
  }
}
