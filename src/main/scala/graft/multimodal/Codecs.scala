package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** REAL (not stubbed) codecs for the two public uncompressed media
  * containers a zero-dependency JVM can decode from their published
  * specifications alone:
  *
  *  - **BMP** — Windows Bitmap, 24-bit uncompressed `BI_RGB` with the
  *    40-byte `BITMAPINFOHEADER` (the format every imaging tool writes by
  *    default for uncompressed interchange). Both row orders are handled:
  *    positive height = bottom-up (the common case), negative height =
  *    top-down — two byte-DIFFERENT valid encodings of the same pixels,
  *    which is exactly what makes decoded-domain dedup (m11) a real claim.
  *  - **WAV** — RIFF/WAVE, PCM 16-bit little-endian. The decoder WALKS the
  *    chunk list (skipping unknown chunks such as `LIST`/`JUNK`, honoring
  *    RIFF's odd-size pad byte) instead of assuming the canonical 44-byte
  *    layout, because real encoders emit metadata chunks between `fmt `
  *    and `data`.
  *
  * These close the round-6..13 "decode is a declared stub" gap: the
  * multimodal pipeline stages (m09/m10/m11) now run over genuinely decoded
  * pixels/samples, with golden-byte fixtures in CodecSpec pinning the
  * layouts to the public specs (not merely to this encoder's own output).
  *
  * Later rounds added PNG, GIF, AVI and baseline/progressive JPEG, all
  * from their public specifications. Each container has ONE writer:
  * `bmpFile` (over `bmpPixelArray`, which also writes the DIB AVI
  * frames) behind both BMP encoders; `riffWave` behind the five WAV
  * encoders; [[encodeGifAnimated]] behind [[encodeGif]]; and for JPEG
  * one front half (`JpegFront`: checks, geometry, planes, chroma,
  * quantizers), one header writer (`JpegOut.header`, SOFn by argument)
  * and one DC and one AC Huffman coder (`JpegBitWriter.dc`/`.ac`)
  * shared by [[encodeJpeg]] and [[encodeJpegProgressive]]. PNG's filter
  * predictor (`pngPredict`) serves the encoder and the decoder.
  * CodecGoldenSpec pins every encoder's output bytes.
  *
  * The reference scope note: floorist itself has no media path
  * (`/root/reference/src/floorist/floorist.py` is tabular-only); this
  * family is part of the training-data-pipeline surface the engine adds.
  */
object Codecs {

  /** A decoded image: row-major top-down, 3 bytes per pixel, R,G,B order
    * (the container-neutral layout — BMP's bottom-up BGR is a file-layout
    * detail the codec absorbs). */
  final case class Image(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == width * height * 3,
      s"pixel buffer ${rgb.length} != $width x $height x 3")
  }

  /** Decoded PCM audio: interleaved 16-bit samples. */
  final case class Pcm(sampleRate: Int, channels: Int, samples: Array[Short])

  // ---- BMP ----------------------------------------------------------------

  /** Bytes in one BMP pixel row: `bytesPerPixel` per pixel, padded to a
    * 4-byte boundary. */
  private def bmpStride(width: Int, bytesPerPixel: Int = 3): Int =
    (width * bytesPerPixel + 3) & ~3

  /** The BMP pixel array, which is also a DIB AVI frame: rows bottom-up,
    * or top-down when `topDown`, each padded to a 4-byte boundary. At
    * 3 bytes per pixel `pixels` is top-down RGB and each pixel goes out as
    * B,G,R; at 1 byte per pixel `pixels` holds the palette indices. */
  private def bmpPixelArray(width: Int, height: Int, bytesPerPixel: Int,
                            pixels: Array[Byte], topDown: Boolean): Array[Byte] = {
    val stride = bmpStride(width, bytesPerPixel)
    val out = new Array[Byte](stride * height)
    var fileRow = 0
    while (fileRow < height) {
      val imgRow = if (topDown) fileRow else height - 1 - fileRow
      var c = 0
      while (c < width) {
        val o = fileRow * stride + c * bytesPerPixel
        val p = imgRow * width + c
        if (bytesPerPixel == 1) out(o) = pixels(p)
        else {
          out(o) = pixels(p * 3 + 2); out(o + 1) = pixels(p * 3 + 1); out(o + 2) = pixels(p * 3)
        }
        c += 1
      }
      fileRow += 1
    }
    out
  }

  /** Read a pixel array laid out as [[bmpPixelArray]] writes it, starting
    * at `offset`, back to top-down RGB; 1-byte indices are looked up in
    * `palette`, a run of B,G,R,reserved quads (null at 3 bytes per pixel). */
  private def bmpReadPixels(bytes: Array[Byte], offset: Int, width: Int, height: Int,
                            bytesPerPixel: Int, topDown: Boolean,
                            palette: Array[Byte]): Array[Byte] = {
    val stride = bmpStride(width, bytesPerPixel)
    val rgb = new Array[Byte](width * height * 3)
    var fileRow = 0
    while (fileRow < height) {
      val imgRow = if (topDown) fileRow else height - 1 - fileRow
      val base = offset + fileRow * stride
      var c = 0
      while (c < width) {
        val p = (imgRow * width + c) * 3
        if (bytesPerPixel == 3) {
          rgb(p) = bytes(base + c * 3 + 2) // R
          rgb(p + 1) = bytes(base + c * 3 + 1) // G
          rgb(p + 2) = bytes(base + c * 3) // B
        } else {
          val idx = bytes(base + c) & 0xFF
          require(idx * 4 + 3 < palette.length,
            s"pixel index $idx outside the ${palette.length / 4}-entry palette")
          rgb(p) = palette(idx * 4 + 2) // R
          rgb(p + 1) = palette(idx * 4 + 1) // G
          rgb(p + 2) = palette(idx * 4) // B
        }
        c += 1
      }
      fileRow += 1
    }
    rgb
  }

  /** The one BMP writer: the 14-byte BITMAPFILEHEADER, the 40-byte
    * BITMAPINFOHEADER (`BI_RGB`, negative height when `topDown`, 72 dpi,
    * biClrUsed = the palette size), the palette as B,G,R,reserved quads
    * (`palette` entries are 0xRRGGBB; empty at 24 bits), the pixel array. */
  private def bmpFile(width: Int, height: Int, bitsPerPixel: Int, palette: Array[Int],
                      pixels: Array[Byte], topDown: Boolean): Array[Byte] = {
    val data = bmpPixelArray(width, height, bitsPerPixel / 8, pixels, topDown)
    val pixelOffset = 54 + palette.length * 4
    val buf = ByteBuffer.allocate(pixelOffset + data.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(pixelOffset + data.length) // file size
    buf.putShort(0).putShort(0) // reserved
    buf.putInt(pixelOffset)
    buf.putInt(40)
    buf.putInt(width)
    buf.putInt(if (topDown) -height else height)
    buf.putShort(1) // planes
    buf.putShort(bitsPerPixel.toShort)
    buf.putInt(0) // BI_RGB (uncompressed)
    buf.putInt(data.length)
    buf.putInt(2835).putInt(2835) // 72 dpi in pixels/metre
    buf.putInt(palette.length) // biClrUsed
    buf.putInt(0) // biClrImportant
    palette.foreach { rgb =>
      buf.put((rgb & 0xFF).toByte).put(((rgb >> 8) & 0xFF).toByte)
        .put(((rgb >> 16) & 0xFF).toByte).put(0.toByte)
    }
    buf.put(data).array()
  }

  /** Encode as 24-bit `BI_RGB`. `topDown = true` writes the negative-height
    * variant — same pixels, different (equally valid) file bytes. */
  def encodeBmp(img: Image, topDown: Boolean = false): Array[Byte] =
    bmpFile(img.width, img.height, 24, Array.emptyIntArray, img.rgb, topDown)

  /** Encode 8-bit indexed (palette) BMP — the other uncompressed variant
    * real tools emit (grayscale exports, screenshots). `palette` entries
    * are 0xRRGGBB; `indices` is row-major top-down, one byte per pixel. */
  def encodeBmpIndexed(width: Int, height: Int, palette: Array[Int],
                       indices: Array[Byte]): Array[Byte] = {
    require(palette.nonEmpty && palette.length <= 256,
      s"palette must have 1..256 entries, got ${palette.length}")
    require(indices.length == width * height,
      s"index buffer ${indices.length} != $width x $height")
    bmpFile(width, height, 8, palette, indices, topDown = false)
  }

  /** Decode uncompressed BMP — 24-bit direct or 8-bit palette, positive OR
    * negative height. Throws `IllegalArgumentException` naming the
    * unsupported feature otherwise — honest scope, never silent garbage. */
  def decodeBmp(bytes: Array[Byte]): Image = {
    require(bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP: missing 'BM' magic")
    require(bytes.length >= 54,
      s"truncated BMP: ${bytes.length} bytes is shorter than the 54-byte headers")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val pixelOffset = buf.getInt(10)
    val headerSize = buf.getInt(14)
    require(headerSize >= 40,
      s"unsupported BMP header size $headerSize (need BITMAPINFOHEADER+)")
    val width = buf.getInt(18)
    val heightRaw = buf.getInt(22)
    val bpp = buf.getShort(28).toInt
    val compression = buf.getInt(30)
    require(bpp == 24 || bpp == 8,
      s"unsupported BMP bit depth $bpp (24-bit direct or 8-bit palette only)")
    require(compression == 0, s"unsupported BMP compression $compression (BI_RGB only)")
    val topDown = heightRaw < 0
    val height = math.abs(heightRaw)
    require(width > 0 && height > 0, s"degenerate BMP dimensions ${width}x$heightRaw")
    val stride = bmpStride(width, bpp / 8)
    // Lower bound: pixel data cannot start before the headers end (a
    // below-header offset would silently decode header/palette bytes as
    // pixels); the 8-bit branch tightens this further to include the palette.
    require(pixelOffset >= 14 + headerSize,
      s"BMP pixel offset $pixelOffset points inside the headers (end ${14 + headerSize})")
    require(bytes.length >= pixelOffset + stride.toLong * height,
      s"truncated BMP: need ${pixelOffset + stride.toLong * height} bytes, have ${bytes.length}")
    // 8-bit: the BGRA palette sits right after the info header; biClrUsed
    // of 0 means the full 256 entries (the spec's default).
    val palette: Array[Byte] =
      if (bpp == 8) {
        val clrUsed = buf.getInt(46)
        val entries = if (clrUsed == 0) 256 else clrUsed
        require(entries >= 1 && entries <= 256 &&
          14 + headerSize + entries * 4 <= pixelOffset,
          s"palette of $entries entries does not fit before the pixel data " +
            s"(offset $pixelOffset, header $headerSize)")
        val p = new Array[Byte](entries * 4)
        System.arraycopy(bytes, 14 + headerSize, p, 0, entries * 4)
        p
      } else null
    Image(width, height,
      bmpReadPixels(bytes, pixelOffset, width, height, bpp / 8, topDown, palette))
  }

  // ---- PNG ----------------------------------------------------------------

  /** A decoded PNG: the pixel grid plus the IHDR color type (0 = gray,
    * 2 = RGB, 3 = palette, 6 = RGBA) and interlace flag — both decoded
    * evidence of the header parse, carried out so queries can assert
    * them as data, not metadata. The alpha channel (color type 6) is
    * dropped after unfiltering: filters operate on the full 4-byte
    * pixels, so alpha is load-bearing for the decode even though the
    * engine's pixel domain is RGB; gray and palette files expand to the
    * same RGB grid. */
  final case class Png(image: Image, colorType: Int,
                       interlaced: Boolean = false)

  /** Adam7 pass geometry (PNG spec §8.2): per pass the origin and the
    * stride; a pass's sub-image is ceil((dim − origin) / stride) wide/
    * tall and owns its OWN filtered scanlines (filters never cross a
    * pass boundary). */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def adam7Dim(dim: Int, origin: Int, stride: Int): Int =
    if (dim <= origin) 0 else (dim - origin + stride - 1) / stride

  private val PngSignature: Array[Byte] =
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0d, 0x0a, 0x1a, 0x0a)

  private def pngCrc(typ: Array[Byte], data: Array[Byte], off: Int,
                     len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(typ)
    c.update(data, off, len)
    c.getValue.toInt
  }

  /** The PNG filter predictor of filter type `ft` (None, Sub, Up,
    * Average, Paeth) for byte `at` of `rows`, unfiltered rows `rowBytes`
    * long; `x` and `r` place the byte in its row and its (sub-)image, so
    * neighbors past the top or left edge read 0. Paeth (PNG spec, public)
    * picks the neighbor (left, up, up-left) closest to left + up − upLeft,
    * ties breaking left, up, up-left in that order. The encoder predicts
    * from the raw rows, the decoder from the rows it has rebuilt so far. */
  private def pngPredict(ft: Int, rows: Array[Byte], at: Int, x: Int, r: Int,
                         rowBytes: Int, bpp: Int): Int = {
    val left = if (x >= bpp) rows(at - bpp) & 0xFF else 0
    val up = if (r > 0) rows(at - rowBytes) & 0xFF else 0
    val upLeft = if (r > 0 && x >= bpp) rows(at - rowBytes - bpp) & 0xFF else 0
    ft match {
      case 0 => 0
      case 1 => left
      case 2 => up
      case 3 => (left + up) / 2
      case 4 =>
        val p = left + up - upLeft
        val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
        if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft
    }
  }

  /** Encode as a REAL compressed PNG — 8-bit truecolor (color type 2) or
    * truecolor+alpha (6), non-interlaced, scanlines run through the five
    * public filter types CYCLING BY ROW (row r uses filter r mod 5), so
    * any image of ≥ 5 rows exercises None/Sub/Up/Average/Paeth in one
    * file and a decoder missing any filter corrupts real data. The IDAT
    * stream is deliberately SPLIT into two chunks when it is big enough —
    * the spec allows any split, and decoders must concatenate. For RGBA
    * the alpha byte is data-bearing (255 − blue), so filter arithmetic
    * over the 4th channel cannot be skipped silently. */
  def encodePng(img: Image, rgba: Boolean = false,
                interlaced: Boolean = false): Array[Byte] = {
    val bpp = if (rgba) 4 else 3
    val raw = new Array[Byte](img.height * img.width * bpp)
    var i = 0
    val n = img.width * img.height
    while (i < n) {
      raw(i * bpp) = img.rgb(i * 3)
      raw(i * bpp + 1) = img.rgb(i * 3 + 1)
      raw(i * bpp + 2) = img.rgb(i * 3 + 2)
      if (rgba) raw(i * bpp + 3) = (255 - (img.rgb(i * 3 + 2) & 0xFF)).toByte
      i += 1
    }
    buildPng(img.width, img.height, raw, bpp, if (rgba) 6 else 2, null,
      interlaced)
  }

  /** Encode an 8-bit GRAYSCALE PNG (color type 0, 1 byte/pixel): the
    * image must already be gray (R=G=B asserted, not silently averaged).
    * Same row-cycling filter discipline as [[encodePng]] — for bpp=1 the
    * `left` neighbor is the previous BYTE, so Sub/Average/Paeth exercise
    * the 1-byte-pixel arithmetic a truecolor file never touches. */
  def encodePngGray(img: Image, interlaced: Boolean = false): Array[Byte] = {
    val n = img.width * img.height
    val raw = new Array[Byte](n)
    var i = 0
    while (i < n) {
      require(img.rgb(i * 3 + 1) == img.rgb(i * 3) &&
        img.rgb(i * 3 + 2) == img.rgb(i * 3),
        s"encodePngGray needs a gray image: pixel $i is not R=G=B")
      raw(i) = img.rgb(i * 3)
      i += 1
    }
    buildPng(img.width, img.height, raw, 1, 0, null, interlaced)
  }

  /** Encode an 8-bit PALETTE PNG (color type 3): a PLTE chunk of up to
    * 256 0xRRGGBB entries plus 1-byte palette indices per pixel — the
    * dominant real-web PNG form. Indices are validated against the
    * palette size here; the decoder re-validates against the FILE's PLTE. */
  def encodePngPalette(width: Int, height: Int, palette: Array[Int],
                       indices: Array[Byte],
                       interlaced: Boolean = false): Array[Byte] = {
    require(palette.length >= 1 && palette.length <= 256,
      s"PNG palette must have 1..256 entries, got ${palette.length}")
    require(indices.length == width * height,
      s"index buffer ${indices.length} != $width x $height")
    var i = 0
    while (i < indices.length) {
      require((indices(i) & 0xFF) < palette.length,
        s"palette index ${indices(i) & 0xFF} out of range at pixel $i")
      i += 1
    }
    buildPng(width, height, indices, 1, 3, palette, interlaced)
  }

  /** Row-cycling filter pass over one (sub-)image: row r uses filter
    * r mod 5, neighbors at the `bpp` pixel stride — shared by the
    * sequential path (the whole image) and each Adam7 pass (filters
    * never cross a pass boundary). */
  private def filterRows(raw: Array[Byte], width: Int, height: Int,
                         bpp: Int): Array[Byte] = {
    val rowBytes = width * bpp
    val filtered = new Array[Byte](height * (1 + rowBytes))
    var r = 0
    while (r < height) {
      val ft = r % 5
      val outBase = r * (1 + rowBytes)
      val inBase = r * rowBytes
      filtered(outBase) = ft.toByte
      var x = 0
      while (x < rowBytes) {
        val cur = raw(inBase + x) & 0xFF
        val pred = pngPredict(ft, raw, inBase + x, x, r, rowBytes, bpp)
        filtered(outBase + 1 + x) = ((cur - pred) & 0xFF).toByte
        x += 1
      }
      r += 1
    }
    filtered
  }

  /** Shared PNG assembly: filter `raw` (`bpp` bytes/pixel) — the whole
    * image sequentially, or per Adam7 pass when `interlaced` — deflate,
    * emit signature + IHDR (+ PLTE for color type 3) + split IDAT + IEND
    * with per-chunk CRCs. */
  private def buildPng(width: Int, height: Int, raw: Array[Byte], bpp: Int,
                       colorType: Int, palette: Array[Int],
                       interlaced: Boolean = false): Array[Byte] = {
    val rowBytes = width * bpp
    val filtered: Array[Byte] =
      if (!interlaced) filterRows(raw, width, height, bpp)
      else {
        val out = new java.io.ByteArrayOutputStream
        Adam7.foreach { case (x0, y0, dx, dy) =>
          val wp = adam7Dim(width, x0, dx)
          val hp = adam7Dim(height, y0, dy)
          if (wp > 0 && hp > 0) {
            val sub = new Array[Byte](wp * hp * bpp)
            var r = 0
            while (r < hp) {
              var c = 0
              while (c < wp) {
                var b = 0
                while (b < bpp) {
                  sub((r * wp + c) * bpp + b) =
                    raw(((y0 + r * dy) * width + (x0 + c * dx)) * bpp + b)
                  b += 1
                }
                c += 1
              }
              r += 1
            }
            out.write(filterRows(sub, wp, hp, bpp))
          }
        }
        out.toByteArray
      }
    val deflater = new java.util.zip.Deflater
    deflater.setInput(filtered)
    deflater.finish()
    val zBuf = new java.io.ByteArrayOutputStream
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) {
      val k = deflater.deflate(tmp)
      zBuf.write(tmp, 0, k)
    }
    deflater.end()
    val z = zBuf.toByteArray

    val out = new java.io.ByteArrayOutputStream
    def chunk(typ: String, data: Array[Byte], off: Int, len: Int): Unit = {
      val t = typ.getBytes("US-ASCII")
      val hdr = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
        .putInt(len).put(t).array()
      out.write(hdr)
      out.write(data, off, len)
      out.write(ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
        .putInt(pngCrc(t, data, off, len)).array())
    }
    out.write(PngSignature)
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(width).putInt(height)
      .put(8.toByte) // bit depth
      .put(colorType.toByte)
      .put(0.toByte).put(0.toByte) // compression/filter
      .put((if (interlaced) 1 else 0).toByte) // interlace: 0 or Adam7
      .array()
    chunk("IHDR", ihdr, 0, 13)
    if (colorType == 3) {
      val plte = new Array[Byte](palette.length * 3)
      var k = 0
      while (k < palette.length) {
        plte(k * 3) = ((palette(k) >> 16) & 0xFF).toByte
        plte(k * 3 + 1) = ((palette(k) >> 8) & 0xFF).toByte
        plte(k * 3 + 2) = (palette(k) & 0xFF).toByte
        k += 1
      }
      chunk("PLTE", plte, 0, plte.length)
    }
    if (z.length >= 2) { // split IDAT: concatenation is part of the spec
      val cut = z.length / 2
      chunk("IDAT", z, 0, cut)
      chunk("IDAT", z, cut, z.length - cut)
    } else chunk("IDAT", z, 0, z.length)
    chunk("IEND", Array.emptyByteArray, 0, 0)
    out.toByteArray
  }

  /** Decode an 8-bit PNG — truecolor (2), truecolor+alpha (6),
    * GRAYSCALE (0) and PALETTE (3, via the PLTE chunk), sequential AND
    * Adam7-INTERLACED: signature, chunk walk with per-chunk CRC-32
    * VERIFICATION, IHDR validation, multi-IDAT concatenation, zlib
    * inflate to the exact expected size (per-pass sum under Adam7), all
    * five filter reconstructions (over the color type's own
    * bytes-per-pixel stride, never crossing a pass boundary), per-pass
    * scatter at the §8.2 strides, then gray replication / palette
    * lookup to the container-neutral RGB grid. Throws
    * `IllegalArgumentException` naming the unsupported feature (16-bit,
    * gray+alpha) — honest scope, never silent garbage. */
  def decodePng(bytes: Array[Byte]): Png = {
    // Signature first (a wrong container should say so), THEN the length
    // floor for the smallest complete chunk structure.
    require(bytes.length >= 8, s"not a PNG: ${bytes.length} bytes is shorter than the signature")
    var s = 0
    while (s < 8) {
      require(bytes(s) == PngSignature(s), "not a PNG: signature mismatch")
      s += 1
    }
    require(bytes.length >= PngSignature.length + 12,
      s"truncated PNG: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var off = 8
    var width = -1; var height = -1; var colorType = -1
    var interlaced = false
    var sawIhdr = false; var sawIend = false
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream
    while (!sawIend) {
      require(off.toLong + 12 <= bytes.length,
        s"truncated PNG: chunk header at $off runs past ${bytes.length}")
      val len = buf.getInt(off)
      // Long arithmetic: a length near Int.MaxValue must not wrap the bound.
      require(len >= 0 && off.toLong + 12 + len <= bytes.length,
        s"truncated PNG chunk (length $len at offset $off)")
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      val stored = buf.getInt(off + 8 + len)
      val computed = pngCrc(bytes.slice(off + 4, off + 8), bytes, off + 8, len)
      require(stored == computed,
        f"PNG chunk '$typ' CRC mismatch (stored 0x$stored%08x, computed 0x$computed%08x)")
      typ match {
        case "IHDR" =>
          require(!sawIhdr, "duplicate IHDR")
          require(len == 13, s"IHDR length $len != 13")
          width = buf.getInt(off + 8)
          height = buf.getInt(off + 12)
          val bitDepth = bytes(off + 16) & 0xFF
          colorType = bytes(off + 17) & 0xFF
          val compression = bytes(off + 18) & 0xFF
          val filterMethod = bytes(off + 19) & 0xFF
          val interlace = bytes(off + 20) & 0xFF
          require(width > 0 && height > 0,
            s"degenerate PNG dimensions ${width}x$height")
          // IHDR dims are s32: a crafted header can declare up to
          // 2³¹−1 per axis — cap before any size arithmetic (width*bpp
          // alone would wrap Int) or allocation, per the fuzz contract
          require(width.toLong * height <= MaxDecodePixels,
            s"PNG dimensions ${width}x$height exceed the $MaxDecodePixels-pixel decode cap")
          require(bitDepth == 8, s"unsupported PNG bit depth $bitDepth (8 only)")
          require(colorType == 0 || colorType == 2 || colorType == 3 ||
            colorType == 6,
            s"unsupported PNG color type $colorType (gray 0 / truecolor 2 / palette 3 / RGBA 6)")
          require(compression == 0, s"unsupported PNG compression $compression")
          require(filterMethod == 0, s"unsupported PNG filter method $filterMethod")
          require(interlace == 0 || interlace == 1,
            s"invalid PNG interlace method $interlace")
          interlaced = interlace == 1
          sawIhdr = true
        case "PLTE" =>
          require(sawIhdr, "PLTE before IHDR")
          require(plte == null, "duplicate PLTE")
          require(idat.size == 0, "PLTE after IDAT")
          require(len > 0 && len % 3 == 0 && len / 3 <= 256,
            s"PLTE length $len is not 3x(1..256) entries")
          plte = bytes.slice(off + 8, off + 8 + len)
        case "IDAT" =>
          require(sawIhdr, "IDAT before IHDR")
          require(colorType != 3 || plte != null, "palette PNG missing PLTE")
          idat.write(bytes, off + 8, len)
        case "IEND" => sawIend = true
        case _ => () // ancillary (tEXt/pHYs/...): skip, CRC already checked
      }
      off += 12 + len
    }
    require(sawIhdr, "PNG missing IHDR")
    val bpp = colorType match {
      case 0 | 3 => 1
      case 2 => 3
      case _ => 4
    }
    val rowBytes = width * bpp
    // Adam7 pass geometry: each non-empty pass carries its OWN filtered
    // scanlines, so the expected stream size is the per-pass sum
    val passes: Seq[(Int, Int, Int, Int, Int, Int)] =
      if (!interlaced) Seq((0, 0, 1, 1, width, height))
      else Adam7.toSeq.map { case (x0, y0, dx, dy) =>
        (x0, y0, dx, dy, adam7Dim(width, x0, dx), adam7Dim(height, y0, dy))
      }.filter(p => p._5 > 0 && p._6 > 0)
    val expected = passes.map { case (_, _, _, _, wp, hp) =>
      hp.toLong * (1 + wp.toLong * bpp)
    }.sum
    require(expected <= Int.MaxValue, s"PNG too large: $expected filtered bytes")
    val filtered = new Array[Byte](expected.toInt)
    val inflater = new java.util.zip.Inflater
    inflater.setInput(idat.toByteArray)
    try {
      var got = 0
      var stalled = false
      while (got < filtered.length && !inflater.finished() && !stalled) {
        val k = inflater.inflate(filtered, got, filtered.length - got)
        if (k == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          stalled = true // truncated or preset-dictionary stream
        got += k
      }
      // Probe one byte past the expected size: a stream holding MORE
      // pixels than IHDR declares is corrupt, not silently croppable.
      val extra =
        if (!inflater.finished() && !stalled)
          inflater.inflate(new Array[Byte](1))
        else 0
      require(got == filtered.length && extra == 0,
        s"PNG pixel stream inflated to ${got + extra}+ bytes, expected ${filtered.length}")
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"corrupt PNG zlib stream: ${e.getMessage}")
    } finally inflater.end()
    // Unfilter per (sub-)image: raw rows accumulate so Up/Average/Paeth
    // read the RECONSTRUCTED prior row of the SAME pass, per spec; an
    // Adam7 pass then scatters into the full grid at its stride.
    val raw = new Array[Byte](height * rowBytes)
    var passOff = 0
    passes.foreach { case (x0, y0, dx, dy, wp, hp) =>
      val prb = wp * bpp
      val sub = new Array[Byte](hp * prb)
      var r = 0
      while (r < hp) {
        val ft = filtered(passOff + r * (1 + prb)) & 0xFF
        require(ft <= 4, s"invalid PNG filter type $ft on row $r")
        val inBase = passOff + r * (1 + prb) + 1
        val outBase = r * prb
        var x = 0
        while (x < prb) {
          val f = filtered(inBase + x) & 0xFF
          val pred = pngPredict(ft, sub, outBase + x, x, r, prb, bpp)
          sub(outBase + x) = ((f + pred) & 0xFF).toByte
          x += 1
        }
        r += 1
      }
      passOff += hp * (1 + prb)
      if (!interlaced)
        System.arraycopy(sub, 0, raw, 0, sub.length)
      else {
        var rr = 0
        while (rr < hp) {
          var cc = 0
          while (cc < wp) {
            var b = 0
            while (b < bpp) {
              raw(((y0 + rr * dy) * width + (x0 + cc * dx)) * bpp + b) =
                sub((rr * wp + cc) * bpp + b)
              b += 1
            }
            cc += 1
          }
          rr += 1
        }
      }
    }
    val n = width * height
    val rgb = colorType match {
      case 2 => raw
      case 6 =>
        val o = new Array[Byte](n * 3)
        var i = 0
        while (i < n) {
          o(i * 3) = raw(i * 4); o(i * 3 + 1) = raw(i * 4 + 1)
          o(i * 3 + 2) = raw(i * 4 + 2)
          i += 1
        }
        o
      case 0 => // grayscale: replicate into the RGB grid
        val o = new Array[Byte](n * 3)
        var i = 0
        while (i < n) {
          o(i * 3) = raw(i); o(i * 3 + 1) = raw(i); o(i * 3 + 2) = raw(i)
          i += 1
        }
        o
      case _ => // palette: FILE-carried PLTE lookup, indices re-validated
        val entries = plte.length / 3
        val o = new Array[Byte](n * 3)
        var i = 0
        while (i < n) {
          val idx = raw(i) & 0xFF
          require(idx < entries,
            s"palette index $idx outside the $entries-entry PLTE")
          o(i * 3) = plte(idx * 3); o(i * 3 + 1) = plte(idx * 3 + 1)
          o(i * 3 + 2) = plte(idx * 3 + 2)
          i += 1
        }
        o
    }
    Png(Image(width, height, rgb), colorType, interlaced)
  }

  // ---- GIF ------------------------------------------------------------------
  //
  // GIF89a from the published specification — the third image container,
  // carrying the third distinct compression family (LZW with GIF's
  // LSB-first variable-width code packing; BMP is uncompressed, PNG is
  // zlib/DEFLATE). Scope: single-frame, global-color-table images, both
  // row orders the format defines (sequential AND the four-pass Adam-less
  // interlace). Unsupported features (local color tables, multiple
  // frames) name themselves — honest scope, never silent garbage.

  /** A decoded GIF: the pixel grid plus header facts carried out as data —
    * the global-color-table size (decoded evidence of the LSD parse) and
    * the interlace flag (evidence the four-pass row map actually ran). */
  final case class Gif(image: Image, paletteSize: Int, interlaced: Boolean)

  /** GIF interlace row order (spec appendix E): pass 1 = rows 0,8,16…,
    * pass 2 = 4,12…, pass 3 = 2,6…, pass 4 = 1,3,5… — the order pixel
    * rows appear IN THE FILE. */
  private def interlaceRows(height: Int): Array[Int] = {
    val out = new Array[Int](height)
    var k = 0
    for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
      var r = start
      while (r < height) { out(k) = r; k += 1; r += step }
    }
    out
  }

  /** GIF-variant LZW encode: codes packed LSB-first, initial width =
    * minCodeSize+1, clear/EOI codes, table capped at 4096 with an
    * explicit clear+reset. The code WIDTH is governed by a mirror of the
    * DECODER's table counter (one entry per emitted data code after the
    * first, whether or not the encoder stores a dict entry for it) — the
    * decoder lags the encoder's own dict by one entry, and a flush emit
    * adds nothing encoder-side, so tracking the encoder's dict counter
    * desyncs the width exactly at non-adding emits (found by the KwKwK
    * round-trip test; goldens pin the corrected boundary). */
  private def lzwEncode(indices: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream
    var bitBuf = 0L
    var bitCnt = 0
    var width = minCodeSize + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xFF).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    var dict = new java.util.HashMap[Long, Integer]
    var nextCode = eoi + 1 // the encoder's own dict counter
    var decNext = eoi + 1 // the decoder's table counter (width authority)
    var firstSinceClear = true
    def key(prefix: Int, b: Int): Long = (prefix.toLong << 8) | b
    // Every data code goes through here: after the first code post-clear,
    // the decoder will add one table entry on reading it — mirror that.
    def emitData(code: Int): Unit = {
      emit(code)
      if (firstSinceClear) firstSinceClear = false
      else if (decNext < 4096) {
        decNext += 1
        if (decNext == (1 << width) && width < 12) width += 1
      }
    }
    emit(clear)
    var prefix = -1
    var i = 0
    while (i < indices.length) {
      val b = indices(i) & 0xFF
      require(b < clear, s"pixel index $b outside the ${clear}-entry palette")
      if (prefix < 0) prefix = b
      else {
        val hit = dict.get(key(prefix, b))
        if (hit != null) prefix = hit
        else {
          emitData(prefix)
          if (nextCode < 4096) {
            dict.put(key(prefix, b), nextCode)
            nextCode += 1
          } else { // table full: clear and start over (decoder resets too)
            emit(clear)
            dict = new java.util.HashMap[Long, Integer]
            nextCode = eoi + 1
            decNext = eoi + 1
            width = minCodeSize + 1
            firstSinceClear = true
          }
          prefix = b
        }
      }
      i += 1
    }
    if (prefix >= 0) emitData(prefix)
    emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xFF).toInt)
    out.toByteArray
  }

  /** GIF-variant LZW decode, incl. the KwKwK case (code == next free
    * entry) and mid-stream clear codes. Returns exactly `expected`
    * indices or throws naming the defect. */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
                        expected: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new Array[Byte](expected)
    var produced = 0
    // Dictionary as (prefixCode, lastByte) — strings materialize by
    // walking the prefix chain; firstByte memoized for the KwKwK append.
    val prefixOf = new Array[Int](4096)
    val lastOf = new Array[Byte](4096)
    val firstOf = new Array[Byte](4096)
    var c = 0
    while (c < clear) {
      prefixOf(c) = -1; lastOf(c) = c.toByte; firstOf(c) = c.toByte; c += 1
    }
    var nextFree = eoi + 1
    var width = minCodeSize + 1
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var prev = -1
    var done = false
    def writeString(code: Int): Unit = {
      // Walk the chain to find length, then fill backwards.
      var len = 0
      var k = code
      while (k >= 0) { len += 1; k = prefixOf(k) }
      require(produced + len <= expected,
        s"LZW stream decodes past the declared ${expected}-pixel image")
      var w = produced + len - 1
      k = code
      while (k >= 0) { out(w) = lastOf(k); w -= 1; k = prefixOf(k) }
      produced += len
    }
    while (!done) {
      while (bitCnt < width && pos < data.length) {
        bitBuf |= (data(pos) & 0xFFL) << bitCnt
        bitCnt += 8
        pos += 1
      }
      require(bitCnt >= width, "truncated GIF LZW stream (no EOI)")
      val code = (bitBuf & ((1L << width) - 1)).toInt
      bitBuf >>>= width
      bitCnt -= width
      if (code == clear) {
        nextFree = eoi + 1
        width = minCodeSize + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev < 0) {
        require(code < clear, s"first LZW code $code after clear is not a root")
        writeString(code)
        prev = code
      } else {
        require(code <= nextFree && code != eoi && code != clear &&
          (code < nextFree || nextFree < 4096),
          s"LZW code $code beyond the ${nextFree}-entry table")
        if (code == nextFree) { // KwKwK: string(prev) + first(string(prev))
          prefixOf(nextFree) = prev
          lastOf(nextFree) = firstOf(prev)
          firstOf(nextFree) = firstOf(prev)
          nextFree += 1
          writeString(code)
        } else {
          writeString(code)
          if (nextFree < 4096) {
            prefixOf(nextFree) = prev
            lastOf(nextFree) = firstOf(code)
            firstOf(nextFree) = firstOf(prev)
            nextFree += 1
          }
        }
        if (nextFree == (1 << width) && width < 12) width += 1
        prev = code
      }
    }
    require(produced == expected,
      s"LZW stream decoded $produced pixels, IHDR-equivalent declares $expected")
    out
  }

  /** Encode a single-frame GIF89a: logical screen descriptor + global
    * color table (`palette` entries are 0xRRGGBB, length a power of two
    * in 2..256), a Graphic Control Extension (so the extension-skip path
    * in every decoder is load-bearing), one image block (full-screen,
    * optionally interlaced — the four-pass row order), LZW-compressed
    * pixel indices in ≤255-byte sub-blocks, trailer. This is the one-frame,
    * zero-delay, non-looping case of [[encodeGifAnimated]]. */
  def encodeGif(width: Int, height: Int, palette: Array[Int],
                indices: Array[Byte], interlaced: Boolean = false): Array[Byte] =
    encodeGifAnimated(width, height, palette, Seq((indices, interlaced, 0)))

  /** One frame: Graphic Control Extension (delay in centiseconds — present
    * on every frame so the extension-walk path is load-bearing), image
    * descriptor (full-screen at (0,0), no local table), LZW data in
    * ≤255-byte sub-blocks. */
  private def writeGifFrame(out: java.io.ByteArrayOutputStream, width: Int,
                            height: Int, indices: Array[Byte],
                            interlaced: Boolean, delayCs: Int,
                            sizeBits: Int): Unit = {
    require(indices.length == width * height,
      s"index buffer ${indices.length} != $width x $height")
    require(delayCs >= 0 && delayCs <= 0xFFFF, s"delay out of u16: $delayCs")
    out.write(Array[Byte](0x21, 0xF9.toByte, 4, 0))
    out.write(delayCs & 0xFF); out.write((delayCs >> 8) & 0xFF)
    out.write(0); out.write(0)
    out.write(0x2C)
    out.write(Array[Byte](0, 0, 0, 0))
    out.write(width & 0xFF); out.write((width >> 8) & 0xFF)
    out.write(height & 0xFF); out.write((height >> 8) & 0xFF)
    out.write(if (interlaced) 0x40 else 0x00)
    // Pixel indices in FILE row order (interlace reorders rows).
    val fileIndices =
      if (!interlaced) indices
      else {
        val o = new Array[Byte](indices.length)
        val rows = interlaceRows(height)
        var k = 0
        while (k < height) {
          System.arraycopy(indices, rows(k) * width, o, k * width, width)
          k += 1
        }
        o
      }
    val minCodeSize = math.max(2, sizeBits)
    out.write(minCodeSize)
    val z = lzwEncode(fileIndices, minCodeSize)
    var off = 0
    while (off < z.length) {
      val n = math.min(255, z.length - off)
      out.write(n)
      out.write(z, off, n)
      off += n
    }
    out.write(0) // block terminator
  }

  /** Encode a MULTI-frame animated GIF89a: one global color table, a
    * NETSCAPE2.0 looping application extension (when `loops >= 0` —
    * 0 = forever, per the public extension layout), then per frame a
    * Graphic Control Extension carrying its delay and an image block
    * (each full-screen, each independently interlaceable). */
  def encodeGifAnimated(width: Int, height: Int, palette: Array[Int],
                        frames: Seq[(Array[Byte], Boolean, Int)],
                        loops: Int = -1): Array[Byte] = {
    require(width >= 1 && width <= 0xFFFF && height >= 1 && height <= 0xFFFF,
      s"GIF dimensions ${width}x$height out of the format's [1,65535] range")
    require(palette.length >= 2 && palette.length <= 256 &&
      Integer.bitCount(palette.length) == 1,
      s"GIF global color table must be a power of two in 2..256, got ${palette.length}")
    require(frames.nonEmpty, "an animated GIF needs at least one frame")
    require(loops >= -1 && loops <= 0xFFFF, s"loop count out of range: $loops")
    val sizeBits = 31 - Integer.numberOfLeadingZeros(palette.length)
    val out = new java.io.ByteArrayOutputStream
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(width & 0xFF); out.write((width >> 8) & 0xFF)
    out.write(height & 0xFF); out.write((height >> 8) & 0xFF)
    out.write(0x80 | (7 << 4) | (sizeBits - 1))
    out.write(0); out.write(0)
    palette.foreach { rgb =>
      out.write((rgb >> 16) & 0xFF); out.write((rgb >> 8) & 0xFF)
      out.write(rgb & 0xFF)
    }
    if (loops >= 0) {
      out.write(0x21); out.write(0xFF) // application extension
      out.write(11); out.write("NETSCAPE2.0".getBytes("US-ASCII"))
      out.write(3); out.write(1) // sub-block: id 1 = loop count
      out.write(loops & 0xFF); out.write((loops >> 8) & 0xFF)
      out.write(0) // terminator
    }
    frames.foreach { case (indices, interlaced, delayCs) =>
      writeGifFrame(out, width, height, indices, interlaced, delayCs, sizeBits)
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** Decode a single-frame GIF87a/89a: header + logical screen descriptor,
    * global color table, extension-block walk, image descriptor (both row
    * orders — sequential and the four-pass interlace), LZW sub-block
    * concatenation and decode, palette lookup to RGB. Throws
    * `IllegalArgumentException` naming unsupported features (local color
    * table, multiple frames, missing GCT). */
  def decodeGif(bytes: Array[Byte]): Gif = {
    val (screenW, screenH, gctEntries) = readGifScreen(bytes)
    var off = GifColorTableAt + gctEntries * 3
    // Block walk: extensions (label + sub-blocks) until the image block.
    var imageAt = -1
    while (imageAt < 0) {
      require(off < bytes.length, "truncated GIF: no image block before EOF")
      (bytes(off) & 0xFF) match {
        case 0x21 => // extension: introducer, label, sub-blocks, terminator
          off = skipGifSubBlocks(bytes, off + 2)
        case 0x2C => imageAt = off
        case 0x3B =>
          throw new IllegalArgumentException("GIF trailer before any image block")
        case other =>
          throw new IllegalArgumentException(
            f"unknown GIF block introducer 0x$other%02x at offset $off")
      }
    }
    val (img, interlaced, endOff) =
      readGifImage(bytes, imageAt, screenW, screenH, gctEntries)
    // Single-frame scope: the next block must be the trailer (animations
    // go through decodeGifFrames).
    require(endOff < bytes.length && (bytes(endOff) & 0xFF) == 0x3B,
      "unsupported GIF: multiple image blocks (animation) — use decodeGifFrames")
    Gif(img, gctEntries, interlaced)
  }

  private def gifU16(bytes: Array[Byte], off: Int): Int =
    (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)

  /** The global color table follows the 6-byte header and the 7-byte
    * logical screen descriptor. */
  private val GifColorTableAt = 13

  /** The header, logical screen descriptor and global color table checks
    * both decoders share: (screen width, screen height, color table
    * entries). */
  private def readGifScreen(bytes: Array[Byte]): (Int, Int, Int) = {
    require(bytes.length >= 6 &&
      new String(bytes, 0, 3, "US-ASCII") == "GIF",
      "not a GIF: missing 'GIF' magic")
    val ver = new String(bytes, 3, 3, "US-ASCII")
    require(ver == "89a" || ver == "87a", s"unsupported GIF version $ver")
    require(bytes.length >= GifColorTableAt, s"truncated GIF: ${bytes.length} bytes")
    val packed = bytes(10) & 0xFF
    require((packed & 0x80) != 0,
      "unsupported GIF: no global color table (local-table-only files)")
    val gctEntries = 1 << ((packed & 0x07) + 1)
    require(GifColorTableAt.toLong + gctEntries * 3 <= bytes.length,
      s"truncated GIF: global color table of $gctEntries entries runs past ${bytes.length}")
    (gifU16(bytes, 6), gifU16(bytes, 8), gctEntries)
  }

  /** Skip an extension's data sub-blocks starting at `from`, through the
    * zero-length terminator; returns the offset just past it. */
  private def skipGifSubBlocks(bytes: Array[Byte], from: Int): Int = {
    var off = from
    var blockLen = -1
    while (blockLen != 0) {
      require(off < bytes.length, "truncated GIF extension block")
      blockLen = bytes(off) & 0xFF
      require(off.toLong + 1 + blockLen <= bytes.length,
        "truncated GIF extension sub-block")
      off += 1 + blockLen
    }
    off
  }

  /** One image block starting at its 0x2C introducer: descriptor checks
    * (full-canvas, no local table), LZW sub-block concatenation + decode,
    * interlace row mapping, palette lookup. Returns the pixels, the
    * interlace flag, and the offset just past the block terminator. */
  private def readGifImage(bytes: Array[Byte], imageAt: Int, screenW: Int,
                           screenH: Int, gctEntries: Int): (Image, Boolean, Int) = {
    var off = imageAt + 1
    require(off + 9 <= bytes.length, "truncated GIF image descriptor")
    val left = gifU16(bytes, off); val top = gifU16(bytes, off + 2)
    val w = gifU16(bytes, off + 4); val h = gifU16(bytes, off + 6)
    val iPacked = bytes(off + 8) & 0xFF
    off += 9
    require((iPacked & 0x80) == 0,
      "unsupported GIF: local color table on the image block")
    require(left == 0 && top == 0 && w == screenW && h == screenH,
      s"unsupported GIF: sub-rectangle frame (${w}x$h at $left,$top on ${screenW}x$screenH)")
    require(w > 0 && h > 0, s"degenerate GIF dimensions ${w}x$h")
    // w·h drives the LZW expected-pixel count and the rgb allocation:
    // 65535×65535 wraps Int — cap before any allocation (fuzz contract)
    require(w.toLong * h <= MaxDecodePixels,
      s"GIF dimensions ${w}x$h exceed the $MaxDecodePixels-pixel decode cap")
    val interlaced = (iPacked & 0x40) != 0
    require(off < bytes.length, "truncated GIF: missing LZW minimum code size")
    val minCodeSize = bytes(off) & 0xFF
    require(minCodeSize >= 2 && minCodeSize <= 8,
      s"invalid GIF LZW minimum code size $minCodeSize")
    off += 1
    val z = new java.io.ByteArrayOutputStream
    var blockLen = -1
    while (blockLen != 0) {
      require(off < bytes.length, "truncated GIF image data")
      blockLen = bytes(off) & 0xFF
      require(off.toLong + 1 + blockLen <= bytes.length,
        "truncated GIF image data sub-block")
      z.write(bytes, off + 1, blockLen)
      off += 1 + blockLen
    }
    val fileIndices = lzwDecode(z.toByteArray, minCodeSize, w * h)
    val rowOf: Int => Int =
      if (!interlaced) identity
      else { val rows = interlaceRows(h); fileRow => rows(fileRow) }
    val rgb = new Array[Byte](w * h * 3)
    var fileRow = 0
    while (fileRow < h) {
      val imgRow = rowOf(fileRow)
      var c = 0
      while (c < w) {
        val idx = fileIndices(fileRow * w + c) & 0xFF
        require(idx < gctEntries,
          s"pixel index $idx outside the $gctEntries-entry global color table")
        val p = (imgRow * w + c) * 3
        rgb(p) = bytes(GifColorTableAt + idx * 3)
        rgb(p + 1) = bytes(GifColorTableAt + idx * 3 + 1)
        rgb(p + 2) = bytes(GifColorTableAt + idx * 3 + 2)
        c += 1
      }
      fileRow += 1
    }
    (Image(w, h, rgb), interlaced, off)
  }

  /** One frame of a decoded animation: pixels, its own interlace flag,
    * and the Graphic Control Extension delay (centiseconds; 0 if the
    * frame had no GCE). */
  final case class GifFrame(image: Image, interlaced: Boolean, delayCs: Int)

  /** A decoded multi-frame GIF: frames in file order, palette size, and
    * the NETSCAPE2.0 loop count (-1 = no looping extension, 0 = forever). */
  final case class GifAnimation(frames: Vector[GifFrame], paletteSize: Int,
                                loops: Int)

  /** Decode a MULTI-frame GIF: the full block walk to the trailer —
    * Graphic Control Extensions attach their delay to the NEXT image
    * block, the NETSCAPE2.0 application extension carries the loop
    * count, unknown extensions are skipped by their sub-block structure.
    * Frame scope matches [[decodeGif]]: full-canvas frames, global color
    * table only (disposal compositing of sub-rectangle frames is out of
    * scope and NAMES itself via the frame-geometry require). */
  def decodeGifFrames(bytes: Array[Byte]): GifAnimation = {
    val (screenW, screenH, gctEntries) = readGifScreen(bytes)
    var off = GifColorTableAt + gctEntries * 3
    val frames = Vector.newBuilder[GifFrame]
    var nFrames = 0
    var pendingDelay = 0
    var loops = -1
    var done = false
    while (!done) {
      require(off < bytes.length, "truncated GIF: no trailer before EOF")
      (bytes(off) & 0xFF) match {
        case 0x21 =>
          require(off + 1 < bytes.length, "truncated GIF extension")
          val label = bytes(off + 1) & 0xFF
          // Capture GCE delay / NETSCAPE loops from the first sub-block,
          // then skip ALL sub-blocks generically (the walk is the same
          // for known and unknown labels).
          if (label == 0xF9 && off + 5 < bytes.length &&
            (bytes(off + 2) & 0xFF) >= 4)
            pendingDelay = gifU16(bytes, off + 4)
          if (label == 0xFF && off + 13 < bytes.length &&
            (bytes(off + 2) & 0xFF) == 11 &&
            new String(bytes, off + 3, 11, "US-ASCII") == "NETSCAPE2.0" &&
            off + 17 < bytes.length && (bytes(off + 14) & 0xFF) == 3 &&
            (bytes(off + 15) & 0xFF) == 1)
            loops = gifU16(bytes, off + 16)
          off = skipGifSubBlocks(bytes, off + 2)
        case 0x2C =>
          val (img, interlaced, endOff) =
            readGifImage(bytes, off, screenW, screenH, gctEntries)
          frames += GifFrame(img, interlaced, pendingDelay)
          nFrames += 1
          pendingDelay = 0
          off = endOff
        case 0x3B =>
          done = true
        case other =>
          throw new IllegalArgumentException(
            f"unknown GIF block introducer 0x$other%02x at offset $off")
      }
    }
    require(nFrames >= 1, "GIF trailer before any image block")
    GifAnimation(frames.result(), gctEntries, loops)
  }

  /** Magic-dispatched image decode: 'BM' → BMP, PNG signature → PNG,
    * 'GIF8' → GIF (an animation decodes to its FIRST frame — the
    * single-image entry point must not reject a valid container), JPEG
    * SOI → baseline JPEG — the decoded-domain entry point for
    * cross-codec dedup (the same pixels arriving in any container must
    * land on the same pixel grid). */
  def decodeImage(bytes: Array[Byte]): Image = {
    if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes.length >= 8 && bytes(0) == PngSignature(0) &&
      bytes(1) == PngSignature(1)) decodePng(bytes).image
    else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8') decodeGifFrames(bytes).frames.head.image
    else if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8) {
      // dispatch semantics are "pixels AS DISPLAYED": the EXIF
      // orientation is applied here (identity for untagged files), so
      // every generic consumer — perceptual dHash, cross-codec dedup,
      // resize, the admission gate — sees the same image a viewer would,
      // and rotated re-encodes dedup against their originals ambiently
      // rather than only through the m29-specific path
      val jpg = decodeJpeg(bytes)
      applyOrientation(jpg.image, jpg.orientation)
    }
    else throw new IllegalArgumentException("unrecognized image container magic")
  }

  // ---- WAV ----------------------------------------------------------------

  /** The one RIFF/WAVE writer behind the five WAV encoders. `fmt ` is the
    * 16-byte PCM layout for format tag 1, and otherwise the 18-byte layout
    * (cbSize 0 — the non-PCM layout real encoders write) followed by the
    * spec-REQUIRED `fact` chunk carrying the samples per channel.
    * `junkChunk = true` then inserts a `JUNK` metadata chunk with an ODD
    * payload size, so the RIFF pad byte is exercised — decoders must walk
    * chunks, not assume the canonical 44-byte layout. An odd-sized `data`
    * chunk gets its pad byte too. `putSamples` writes the `sampleCount`
    * samples, `bitsPerSample` bits each. */
  private def riffWave(formatTag: Int, channels: Int, sampleRate: Int,
                       bitsPerSample: Int, sampleCount: Int, junkChunk: Boolean)(
                        putSamples: ByteBuffer => Unit): Array[Byte] = {
    require(channels >= 1, "channels must be >= 1")
    val pcm = formatTag == 1
    val bytesPerSample = bitsPerSample / 8
    val dataBytes = sampleCount * bytesPerSample
    val dataPad = dataBytes & 1
    val fmtBytes = if (pcm) 16 else 18
    val factBytes = if (pcm) 0 else 8 + 4
    val junkPayload = 5 // odd on purpose: exercises the pad byte
    val junkBytes = if (junkChunk) 8 + junkPayload + 1 else 0
    val riffSize = 4 + (8 + fmtBytes) + factBytes + junkBytes + (8 + dataBytes + dataPad)
    val buf = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(fmtBytes)
    buf.putShort(formatTag.toShort)
    buf.putShort(channels.toShort)
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * channels * bytesPerSample) // byte rate
    buf.putShort((channels * bytesPerSample).toShort) // block align
    buf.putShort(bitsPerSample.toShort)
    if (!pcm) {
      buf.putShort(0) // cbSize: no format extension
      buf.put("fact".getBytes("US-ASCII")).putInt(4)
      buf.putInt(sampleCount / channels) // samples per channel
    }
    if (junkChunk) {
      buf.put("JUNK".getBytes("US-ASCII")).putInt(junkPayload)
      var i = 0
      while (i < junkPayload) { buf.put(0x6a.toByte); i += 1 }
      buf.put(0.toByte) // RIFF pad: chunks are word-aligned
    }
    buf.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    putSamples(buf)
    if (dataPad == 1) buf.put(0.toByte)
    buf.array()
  }

  /** Encode PCM 16-bit LE (format tag 1); `junkChunk` as in `riffWave`. */
  def encodeWav(pcm: Pcm, junkChunk: Boolean = false): Array[Byte] =
    riffWave(1, pcm.channels, pcm.sampleRate, 16, pcm.samples.length, junkChunk) { buf =>
      var i = 0
      while (i < pcm.samples.length) { buf.putShort(pcm.samples(i)); i += 1 }
    }

  // ---- G.711 μ-law (the WAV lossy-audio path) ------------------------------
  //
  // ITU-T G.711 μ-law companding, from the published standard's integer
  // algorithm (the classic segment/mantissa form): 16-bit linear PCM folds
  // to 8 bits through a sign bit, a 3-bit segment (exponent) and a 4-bit
  // mantissa, biased by 0x84 and bit-inverted on the wire. Everything is
  // integer arithmetic, so the DECODED samples are bit-exactly computable
  // by any engine — which is what lets the m16 oracle recompute the full
  // lossy round trip (compress → expand) in SQL and hash-compare it.

  private val MuLawBias = 0x84 // 132
  private val MuLawClip = 32635

  /** Fold one 16-bit linear sample to its 8-bit μ-law code. */
  def mulawCompress(sample: Short): Byte = {
    var s = sample.toInt // Int arithmetic: -(-32768) must not wrap
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > MuLawClip) s = MuLawClip
    s += MuLawBias
    // Segment = position of the highest set bit above bit 7 (0..7).
    var exponent = 7
    var mask = 0x4000
    while (exponent > 0 && (s & mask) == 0) { exponent -= 1; mask >>= 1 }
    val mantissa = (s >> (exponent + 3)) & 0x0F
    (~(sign | (exponent << 4) | mantissa)).toByte
  }

  /** Expand one 8-bit μ-law code back to 16-bit linear. */
  def mulawExpand(code: Byte): Short = {
    val u = (~code) & 0xFF
    val exponent = (u >> 4) & 7
    val mantissa = u & 0x0F
    val t = (((mantissa << 3) + MuLawBias) << exponent) - MuLawBias
    (if ((u & 0x80) != 0) -t else t).toShort
  }

  // ---- G.711 A-law (the OTHER companding law of the same standard) --------
  //
  // A-law per the ITU-T G.711 segment table: the 16-bit sample drops to a
  // 13-bit magnitude (arithmetic >> 3), segments end at 0x1F/0x3F/0x7F/
  // 0xFF/0x1FF/0x3FF/0x7FF/0xFFF (seg 7 covers the full 13-bit range, so
  // no clip branch is reachable for 16-bit input), segments 0 and 1 both
  // take mantissa bits >> 1, and the wire byte XORs the alternating mask
  // (0xD5 for non-negative, 0x55 for negative — silence encodes to the
  // published 0xD5 and expands to +8). Same integer-exact property as
  // μ-law: the m24 oracle recomputes compress → expand in SQL.

  /** Fold one 16-bit linear sample to its 8-bit A-law code. */
  def alawCompress(sample: Short): Byte = {
    val x13 = sample.toInt >> 3 // arithmetic shift: floor, sign-preserving
    val (mask, m) = if (x13 >= 0) (0xD5, x13) else (0x55, -x13 - 1)
    val seg =
      if (m <= 0x1F) 0 else if (m <= 0x3F) 1 else if (m <= 0x7F) 2
      else if (m <= 0xFF) 3 else if (m <= 0x1FF) 4 else if (m <= 0x3FF) 5
      else if (m <= 0x7FF) 6 else 7
    val mant = (m >> (if (seg < 2) 1 else seg)) & 0x0F
    (((seg << 4) | mant) ^ mask).toByte
  }

  /** Expand one 8-bit A-law code back to 16-bit linear. */
  def alawExpand(code: Byte): Short = {
    val a = (code ^ 0x55) & 0xFF
    val seg = (a >> 4) & 7
    val base = (a & 0x0F) << 4
    val t =
      if (seg == 0) base + 8
      else if (seg == 1) base + 0x108
      else (base + 0x108) << (seg - 1)
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  /** Encode 8-bit PCM WAV (format tag 1, bits 8 — the low-fi legacy form
    * real corpora still carry): samples are UNSIGNED bytes centered at
    * 128 per the RIFF convention (16-bit PCM is signed, 8-bit is not).
    * The 16-byte PCM `fmt ` layout of [[encodeWav]]; `junkChunk` as
    * there. Decoding widens to 16-bit linear via (u − 128) · 256, so the
    * quantization is the exact closed form (s ≫ 8) ≪ 8 when codes come
    * from [[pcm8Compress]]. */
  def encodeWavPcm8(codes: Array[Byte], sampleRate: Int, channels: Int,
                    junkChunk: Boolean = false): Array[Byte] =
    riffWave(1, channels, sampleRate, 8, codes.length, junkChunk)(_.put(codes))

  /** Quantize one 16-bit sample to its unsigned 8-bit PCM code: the top
    * byte, rebased to unsigned — (s ≫ 8) + 128 (arithmetic shift =
    * floor, so the decode closed form is exactly (s ≫ 8) ≪ 8). */
  def pcm8Compress(sample: Short): Byte = ((sample >> 8) + 128).toByte

  /** Encode IEEE-float WAV (format tag 3, 32 bits/sample — the studio/
    * DAW interchange form): each 16-bit sample is written as the EXACT
    * dyadic float s / 32768 (a 16-bit integer over a power of two is
    * exactly representable in binary32, and the decoder's ·32768 is a
    * power-of-two rescale — both exact, so this round trip is lossless
    * and the oracle needs no float arithmetic at all). 18-byte `fmt `
    * (cbSize 0) + the spec-required `fact` chunk, like the G.711 pair. */
  def encodeWavFloat(pcm: Pcm, junkChunk: Boolean = false): Array[Byte] =
    riffWave(3, pcm.channels, pcm.sampleRate, 32, pcm.samples.length, junkChunk) { buf =>
      var i = 0
      while (i < pcm.samples.length) {
        buf.putFloat(pcm.samples(i) / 32768.0f); i += 1
      }
    }

  /** Encode μ-law WAV: format tag 7, 8 bits/sample, an 18-byte `fmt `
    * chunk (cbSize = 0 — the non-PCM layout real encoders write) and the
    * spec-REQUIRED `fact` chunk carrying the sample count. `junkChunk`
    * adds the odd-sized metadata chunk between `fact` and `data` like
    * [[encodeWav]] does, and an odd sample count leaves the data chunk
    * itself odd-sized (its RIFF pad byte becomes load-bearing). */
  def encodeWavMulaw(samples: Array[Byte], sampleRate: Int, channels: Int,
                     junkChunk: Boolean = false): Array[Byte] =
    riffWave(7, channels, sampleRate, 8, samples.length, junkChunk)(_.put(samples))

  /** Encode A-law WAV: format tag 6 (WAVE_FORMAT_ALAW), same 18-byte
    * `fmt ` + `fact` layout as the μ-law writer. */
  def encodeWavAlaw(samples: Array[Byte], sampleRate: Int, channels: Int,
                    junkChunk: Boolean = false): Array[Byte] =
    riffWave(6, channels, sampleRate, 8, samples.length, junkChunk)(_.put(samples))

  /** Decode RIFF/WAVE by walking the chunk list — PCM 16-bit passes
    * samples through; PCM 8-bit (unsigned, centered 128) widens via
    * (u − 128) · 256; IEEE float 32 (format 3) rescales by 32768 with
    * round-half-up and saturation; μ-law (format 7) and A-law (format 6,
    * both 8-bit) expand each code through its companding table. Callers
    * always see 16-bit linear PCM. */
  def decodeWav(bytes: Array[Byte]): Pcm = {
    require(bytes.length >= 12, "not a WAV: too short for a RIFF header")
    def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    require(fourcc(0) == "RIFF" && fourcc(8) == "WAVE",
      s"not a WAV: RIFF/WAVE magic missing (${fourcc(0)}/${fourcc(8)})")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var format = -1
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= bytes.length && (dataOff < 0 || sampleRate < 0)) {
      val id = fourcc(off)
      val size = buf.getInt(off + 4)
      // Long arithmetic: a size near Int.MaxValue would overflow the Int
      // sum, pass the bound check, and walk to a negative offset.
      require(size >= 0 && off.toLong + 8 + size <= bytes.length,
        s"truncated WAV chunk '$id' (size $size at offset $off)")
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too small ($size)")
          format = buf.getShort(off + 8).toInt
          channels = buf.getShort(off + 10).toInt
          sampleRate = buf.getInt(off + 12)
          bits = buf.getShort(off + 22).toInt
        case "data" =>
          dataOff = off + 8
          dataLen = size
        case _ => () // LIST/JUNK/fact/...: skip
      }
      off += 8 + size + (size & 1) // RIFF: odd-sized chunks carry a pad byte
    }
    require(sampleRate > 0 && dataOff >= 0, "WAV missing fmt or data chunk")
    require(format == 1 || format == 3 || format == 6 || format == 7,
      s"unsupported WAV format tag $format (PCM 1, float 3, A-law 6, or mu-law 7 only)")
    if (format == 1 && bits == 16) {
      val n = dataLen / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) { samples(i) = buf.getShort(dataOff + i * 2); i += 1 }
      Pcm(sampleRate, channels, samples)
    } else if (format == 1) {
      require(bits == 8, s"unsupported PCM WAV bit depth $bits (8 or 16 only)")
      // unsigned 8-bit, centered at 128: widen to 16-bit linear
      val samples = new Array[Short](dataLen)
      var i = 0
      while (i < dataLen) {
        samples(i) = (((bytes(dataOff + i) & 0xFF) - 128) << 8).toShort
        i += 1
      }
      Pcm(sampleRate, channels, samples)
    } else if (format == 3) {
      require(bits == 32, s"unsupported float WAV bit depth $bits (32 only)")
      val n = dataLen / 4
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        // round half up, saturate; NaN lands on 0 via Math.round —
        // crafted non-finite floats must not escape the 16-bit range
        val v = Math.round(buf.getFloat(dataOff + i * 4) * 32768.0f)
        samples(i) =
          (if (v > 32767) 32767 else if (v < -32768) -32768 else v).toShort
        i += 1
      }
      Pcm(sampleRate, channels, samples)
    } else {
      require(bits == 8, s"unsupported G.711 WAV bit depth $bits (8-bit only)")
      val expand: Byte => Short = if (format == 7) mulawExpand else alawExpand
      val samples = new Array[Short](dataLen)
      var i = 0
      while (i < dataLen) { samples(i) = expand(bytes(dataOff + i)); i += 1 }
      Pcm(sampleRate, channels, samples)
    }
  }

  // ---- AVI (MJPEG-in-AVI, Microsoft AVI RIFF form) --------------------------
  //
  // The VIDEO container, from the public AVI RIFF specification (the
  // 'hdrl'/'movi' LIST layout, MainAVIHeader/AVIStreamHeader/
  // BITMAPINFOHEADER field tables, and the idx1 index are all documented
  // in Microsoft's multimedia file-format reference): Motion-JPEG — each
  // '00dc' chunk one complete baseline JPEG, reusing [[decodeJpeg]] per
  // frame — plus the other frame encoding real corpora carry,
  // uncompressed BI_RGB '00db' bitmaps (bottom-up BGR, the BMP pixel
  // convention). Scope: one 'vids' stream, MJPG or DIB; anything else
  // names itself.
  // The RIFF chunk walk mirrors [[decodeWav]]'s (same container family).

  /** Per-file frame-count ceiling: an avih/dwTotalFrames from a crafted
    * header must not pre-commit unbounded decode work. 4096 frames at the
    * pixel cap is far past any admission-gate payload. */
  val MaxAviFrames: Int = 4096

  /** A decoded AVI: stream geometry and timing from the headers, the
    * frame CODEC ("MJPG" — each frame a complete baseline JPEG — or
    * "DIB" — uncompressed bottom-up BGR bitmaps), and the still-encoded
    * frame payloads in stream order (the consumer picks which frames to
    * decode via [[decodeAviFrame]] — frame SAMPLING must not pay full
    * decode for frames it skips). */
  final case class AviVideo(width: Int, height: Int, usPerFrame: Int,
                            codec: String, frames: Vector[Array[Byte]])

  /** Decode one frame payload of `avi` to pixels: JPEG decode for MJPG,
    * the BMP row convention (bottom-up rows, BGR, 4-byte stride padding)
    * for DIB. */
  def decodeAviFrame(avi: AviVideo, payload: Array[Byte]): Image =
    if (avi.codec == "MJPG") {
      val jpg = decodeJpeg(payload)
      applyOrientation(jpg.image, jpg.orientation)
    } else {
      val w = avi.width; val h = avi.height
      val stride = bmpStride(w)
      require(payload.length == stride * h,
        s"DIB frame carries ${payload.length} bytes, expected ${stride * h}")
      Image(w, h, bmpReadPixels(payload, 0, w, h, 3, topDown = false, palette = null))
    }

  /** Encode frames (each a complete baseline JPEG) as an MJPEG AVI:
    * RIFF('AVI ') { LIST hdrl { avih, LIST strl { strh, strf } },
    * LIST movi { '00dc'… }, idx1 }. */
  def encodeAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
                usPerFrame: Int = 40000): Array[Byte] =
    encodeAviStream(frames, width, height, usPerFrame, mjpeg = true)

  /** Encode images as an UNCOMPRESSED (BI_RGB) AVI — the other frame
    * encoding real AVI corpora carry: '00db' chunks of bottom-up BGR
    * rows with 4-byte stride padding (the BMP pixel-array convention),
    * biCompression 0, handler 'DIB '. */
  def encodeAviDib(images: Seq[Image], usPerFrame: Int = 40000): Array[Byte] = {
    require(images.nonEmpty, "AVI needs at least one frame")
    val w = images.head.width; val h = images.head.height
    require(images.forall(i => i.width == w && i.height == h),
      "all AVI frames must share one geometry")
    val payloads = images.map(img => bmpPixelArray(w, h, 3, img.rgb, topDown = false))
    encodeAviStream(payloads, w, h, usPerFrame, mjpeg = false)
  }

  private def encodeAviStream(frames: Seq[Array[Byte]], width: Int,
                              height: Int, usPerFrame: Int,
                              mjpeg: Boolean): Array[Byte] = {
    require(frames.nonEmpty && frames.size <= MaxAviFrames,
      s"AVI frame count ${frames.size} outside [1,$MaxAviFrames]")
    require(usPerFrame > 0, s"AVI frame duration $usPerFrame must be positive")
    val out = new java.io.ByteArrayOutputStream(1024)
    def u32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    def u16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val maxFrame = frames.map(_.length).max
    val moviData = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val idx1Data = 16 * frames.size
    val hdrlData = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val riffData = 4 + (8 + hdrlData) + (8 + moviData) + (8 + idx1Data)
    cc("RIFF"); u32(riffData); cc("AVI ")
    cc("LIST"); u32(hdrlData); cc("hdrl")
    // MainAVIHeader
    cc("avih"); u32(56)
    u32(usPerFrame); u32(0); u32(0); u32(0x10 /* AVIF_HASINDEX */)
    u32(frames.size); u32(0); u32(1 /* streams */); u32(maxFrame)
    u32(width); u32(height); u32(0); u32(0); u32(0); u32(0)
    val chunkId = if (mjpeg) "00dc" else "00db"
    cc("LIST"); u32(4 + (8 + 56) + (8 + 40)); cc("strl")
    // AVIStreamHeader
    cc("strh"); u32(56)
    cc("vids"); cc(if (mjpeg) "MJPG" else "DIB "); u32(0); u16(0); u16(0); u32(0)
    u32(usPerFrame /* scale */); u32(1000000 /* rate */)
    u32(0); u32(frames.size); u32(maxFrame); u32(0); u32(0)
    u16(0); u16(0); u16(width); u16(height) // rcFrame
    // BITMAPINFOHEADER
    cc("strf"); u32(40)
    u32(40); u32(width); u32(height); u16(1); u16(24)
    if (mjpeg) cc("MJPG") else u32(0) // biCompression: fourcc or BI_RGB
    // biSizeImage: for BI_RGB the actual '00db' payload size — rows carry
    // the BMP 4-byte stride padding, so width*height*3 would be wrong
    // whenever 3*width is not a multiple of 4 (our decoder ignores the
    // field; external consumers may not). MJPEG frames vary per chunk;
    // the max frame size matches dwSuggestedBufferSize above.
    u32(if (mjpeg) maxFrame else bmpStride(width) * height)
    u32(0); u32(0); u32(0); u32(0)
    cc("LIST"); u32(moviData); cc("movi")
    // idx1 offsets measure from the 'movi' fourcc (the common convention)
    val offsets = new Array[Int](frames.size)
    var moviOff = 4
    frames.zipWithIndex.foreach { case (f, i) =>
      offsets(i) = moviOff
      cc(chunkId); u32(f.length); out.write(f, 0, f.length)
      if ((f.length & 1) == 1) out.write(0)
      moviOff += 8 + f.length + (f.length & 1)
    }
    cc("idx1"); u32(idx1Data)
    frames.zipWithIndex.foreach { case (f, i) =>
      cc(chunkId); u32(0x10); u32(offsets(i)); u32(f.length)
    }
    out.toByteArray
  }

  /** Decode an MJPEG AVI's headers and frame payloads — the container
    * walk only; frames stay compressed (see [[AviVideo]]). Malformed or
    * out-of-scope input is rejected by NAME. */
  def decodeAviFrames(bytes: Array[Byte]): AviVideo = {
    require(bytes.length >= 12, "not an AVI: too short for a RIFF header")
    def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    require(fourcc(0) == "RIFF" && fourcc(8) == "AVI ",
      s"not an AVI: RIFF/'AVI ' magic missing (${fourcc(0)}/${fourcc(8)})")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var usPerFrame = -1; var totalFrames = -1; var streams = -1
    var width = -1; var height = -1
    var handler: String = null // strh fccHandler: MJPG or DIB
    var codec: String = null   // strf biCompression: MJPG or DIB (BI_RGB)
    val frames = Vector.newBuilder[Array[Byte]]
    var nFrames = 0

    // one RIFF chunk run [at, end): returns each chunk to `visit`, with
    // the WAV walk's overflow-safe bound check and odd-size padding
    def walk(at: Int, end: Int)(visit: (String, Int, Int) => Unit): Unit = {
      var off = at
      while (off + 8 <= end) {
        val id = fourcc(off)
        val size = buf.getInt(off + 4)
        require(size >= 0 && off.toLong + 8 + size <= end,
          s"truncated AVI chunk '$id' (size $size at offset $off)")
        visit(id, off + 8, size)
        off += 8 + size + (size & 1)
      }
    }

    def walkHdrl(at: Int, end: Int): Unit = walk(at, end) { (id, data, size) =>
      id match {
        case "avih" =>
          require(size >= 56, s"avih chunk too small ($size)")
          usPerFrame = buf.getInt(data)
          totalFrames = buf.getInt(data + 16)
          streams = buf.getInt(data + 24)
          width = buf.getInt(data + 32)
          height = buf.getInt(data + 36)
        case "LIST" if size >= 4 && fourcc(data) == "strl" =>
          walk(data + 4, data + size) { (sid, sdata, ssize) =>
            sid match {
              case "strh" =>
                require(ssize >= 56, s"strh chunk too small ($ssize)")
                val fccType = fourcc(sdata)
                require(fccType == "vids",
                  s"unsupported AVI stream type '$fccType' (video only)")
                val h = fourcc(sdata + 4)
                require(h == "MJPG" || h == "DIB ",
                  s"unsupported AVI video handler '$h' (MJPG or DIB only)")
                handler = h.trim
              case "strf" =>
                require(ssize >= 40, s"strf chunk too small ($ssize)")
                val compression = buf.getInt(sdata + 16)
                codec =
                  if (compression == 0) "DIB" // BI_RGB
                  else if (fourcc(sdata + 16) == "MJPG") "MJPG"
                  else throw new IllegalArgumentException(
                    s"unsupported AVI bitmap compression '${fourcc(sdata + 16)}' " +
                      "(MJPG or BI_RGB only)")
                if (codec == "DIB") {
                  val bits = buf.getShort(sdata + 14).toInt
                  require(bits == 24,
                    s"unsupported DIB AVI bit depth $bits (24-bit only)")
                }
              case _ => () // strn/indx/…: opaque stream metadata
            }
          }
        case _ => () // odml extension lists etc.: skip
      }
    }

    val riffEnd = {
      val size = buf.getInt(4)
      require(size >= 4 && 8L + size <= bytes.length,
        s"truncated AVI RIFF payload (size $size)")
      8 + size
    }
    walk(12, riffEnd) { (id, data, size) =>
      id match {
        case "LIST" =>
          require(size >= 4, s"AVI LIST chunk too small ($size)")
          fourcc(data) match {
            case "hdrl" => walkHdrl(data + 4, data + size)
            case "movi" =>
              require(handler != null && codec != null,
                "AVI movi data before the hdrl stream headers")
              require(handler == codec,
                s"AVI stream handler '$handler' disagrees with bitmap " +
                  s"compression '$codec'")
              val wantChunk = if (codec == "MJPG") "00dc" else "00db"
              walk(data + 4, data + size) { (cid, cdata, csize) =>
                require(cid == wantChunk,
                  s"unsupported movi chunk '$cid' (single $codec stream " +
                    s"carries '$wantChunk')")
                nFrames += 1
                require(nFrames <= MaxAviFrames,
                  s"AVI frame count exceeds the $MaxAviFrames-frame cap")
                frames += java.util.Arrays.copyOfRange(bytes, cdata, cdata + csize)
              }
            case _ => () // INFO etc.: opaque
          }
        case "idx1" | "JUNK" => () // the index is derivable from the walk
        case other =>
          throw new IllegalArgumentException(
            s"unsupported top-level AVI chunk '$other'")
      }
    }
    require(usPerFrame > 0 && width > 0 && height > 0,
      "AVI missing or degenerate avih header")
    require(streams == 1,
      s"unsupported AVI stream count $streams (single video stream only)")
    require(totalFrames >= 0 && totalFrames <= MaxAviFrames,
      s"AVI header frame count $totalFrames outside [0,$MaxAviFrames]")
    require(width.toLong * height <= MaxDecodePixels,
      s"AVI dimensions ${width}x$height exceed the $MaxDecodePixels-pixel decode cap")
    val fs = frames.result()
    require(fs.size == totalFrames,
      s"AVI carries ${fs.size} frames but the header declares $totalFrames")
    AviVideo(width, height, usPerFrame, codec, fs)
  }

  // ---- JPEG (baseline DCT, ITU-T T.81) --------------------------------------
  //
  // The lossy IMAGE codec, from the published standard alone: baseline
  // sequential DCT, 8-bit precision, Huffman entropy coding. Scope:
  // grayscale (1 component) and YCbCr 4:4:4 (3 components, all sampling
  // factors 1) — progressive (SOF2), 12-bit, arithmetic coding, and
  // subsampled chroma name themselves on decode instead of mis-decoding.
  //
  // EVERYTHING IS INTEGER ARITHMETIC, deterministically: the DCT in both
  // directions uses a fixed-point cosine table K[u][x] =
  // round(c(u)·cos((2x+1)uπ/16)·4096) with c(0)=1/√2 (the scale factors of
  // the spec's Annex A formulas folded in), so the decoded pixels of any
  // valid stream are bit-exactly reproducible — which is what lets the
  // m19/m20 DuckDB oracles recompute a real lossy round trip in SQL. The
  // DC coefficient is quantized through the EXACT S00 = Σ(s−128)/8 form
  // (integer, no table): for u≥1 the K rows sum to zero exactly, so a
  // flat block's AC coefficients are exactly 0 and its decoded value has
  // the closed form 128 + 2·qscale·Sq (verified exhaustively over all
  // 256 levels × 4 scales in JpegSpec).
  //
  // Quantization: the Annex K example tables (the de-facto "quality 50"
  // tables every encoder ships), scaled by an integer `qscale` and clamped
  // to [1,255]. Huffman: the Annex K example tables, CARRIED IN THE FILE
  // (DHT) and rebuilt by the decoder from the file bytes — the decoder
  // never assumes this encoder's tables.
  //
  // Reference scope note: floorist has no media path
  // (/root/reference/src/floorist/floorist.py is tabular-only); with
  // G.711 μ-law (lossy audio) this completes the lossy half of the
  // training-pipeline codec family.

  /** A decoded JPEG: pixels plus header facts carried out as data —
    * component count and luma sampling factors from the SOF (1/1 = 4:4:4,
    * 2/2 = 4:2:0, 2/1 = 4:2:2), restart interval from DRI (0 = none),
    * and whether the SOF was progressive (SOF2) or sequential. */
  final case class JpegImage(image: Image, components: Int, restartInterval: Int,
                             lumaH: Int = 1, lumaV: Int = 1,
                             progressive: Boolean = false,
                             orientation: Int = 1)

  /** EXIF orientation (tag 274) transform, stored → display, per the
    * public EXIF 2.x §4.6.4 value table: 1 identity, 2 mirror-horizontal,
    * 3 rotate-180, 4 mirror-vertical, 5 transpose, 6 rotate-90-CW,
    * 7 transverse, 8 rotate-90-CCW. Values 5–8 swap the output dims.
    * This is what normalizes the 8 orientation variants of one photo to
    * the SAME pixel array — the decoded-domain dedup path uses it so
    * rotated re-encodes pair with their originals. */
  def applyOrientation(img: Image, orientation: Int): Image = {
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation $orientation outside the spec's [1,8] range")
    if (orientation == 1) return img
    val w = img.width; val h = img.height
    val swap = orientation >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Byte](ow * oh * 3)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        var sx = 0; var sy = 0
        (orientation: @annotation.switch) match {
          case 2 => sx = w - 1 - x; sy = y
          case 3 => sx = w - 1 - x; sy = h - 1 - y
          case 4 => sx = x; sy = h - 1 - y
          case 5 => sx = y; sy = x
          case 6 => sx = y; sy = h - 1 - x
          case 7 => sx = w - 1 - y; sy = h - 1 - x
          case 8 => sx = w - 1 - y; sy = x
        }
        val sp = (sy * w + sx) * 3
        val dp = (y * ow + x) * 3
        out(dp) = img.rgb(sp); out(dp + 1) = img.rgb(sp + 1)
        out(dp + 2) = img.rgb(sp + 2)
        x += 1
      }
      y += 1
    }
    Image(ow, oh, out)
  }

  /** The orientation whose [[applyOrientation]] undoes `orientation`'s:
    * 6/8 (the quarter-turns) invert each other, everything else is an
    * involution. An encoder planting a variant that must NORMALIZE back
    * to a reference image pre-transforms by the inverse. */
  def inverseOrientation(orientation: Int): Int = orientation match {
    case 6 => 8
    case 8 => 6
    case o =>
      require(o >= 1 && o <= 8,
        s"EXIF orientation $o outside the spec's [1,8] range")
      o
  }

  /** Parse the EXIF APP1 TIFF walk for the orientation tag — bounds and
    * structure checked with named rejections (a segment that CLAIMS to be
    * Exif must parse; unknown tags are skipped as opaque). Returns 1 when
    * IFD0 carries no orientation entry, per the spec's default. */
  private def parseExifOrientation(bytes: Array[Byte], tiff0: Int,
                                   end: Int): Int = {
    require(end - tiff0 >= 8, "EXIF TIFF header truncated")
    val le = (bytes(tiff0) & 0xFF, bytes(tiff0 + 1) & 0xFF) match {
      case (0x49, 0x49) => true  // "II" little-endian
      case (0x4D, 0x4D) => false // "MM" big-endian
      case (a, b) => throw new IllegalArgumentException(
        f"EXIF TIFF byte-order mark 0x$a%02X$b%02X is neither II nor MM")
    }
    def eu16(off: Int): Int =
      if (le) (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
      else ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)
    def eu32(off: Int): Long =
      if (le) (eu16(off) & 0xFFFFL) | ((eu16(off + 2) & 0xFFFFL) << 16)
      else ((eu16(off) & 0xFFFFL) << 16) | (eu16(off + 2) & 0xFFFFL)
    require(eu16(tiff0 + 2) == 42,
      s"EXIF TIFF magic ${eu16(tiff0 + 2)} != 42")
    val ifdOff = eu32(tiff0 + 4)
    require(ifdOff >= 8 && tiff0 + ifdOff + 2 <= end,
      s"EXIF IFD0 offset $ifdOff outside the APP1 segment")
    val ifd0 = tiff0 + ifdOff.toInt
    val n = eu16(ifd0)
    require(ifd0 + 2 + 12 * n + 4 <= end,
      s"EXIF IFD0 with $n entries runs past the APP1 segment")
    var i = 0
    while (i < n) {
      val e = ifd0 + 2 + 12 * i
      if (eu16(e) == 0x0112) { // Orientation
        require(eu16(e + 2) == 3 && eu32(e + 4) == 1L,
          "EXIF orientation must be a single SHORT")
        val v = eu16(e + 8) // SHORT value packed at the field's start
        require(v >= 1 && v <= 8,
          s"EXIF orientation $v outside the spec's [1,8] range")
        return v
      }
      i += 1
    }
    1
  }

  /** Zigzag position → natural (row-major) index, T.81 Figure 5. */
  private[multimodal] val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.1 luminance quantization table (natural row-major order). */
  private[multimodal] val JpegQuantLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Annex K.2 chrominance quantization table (natural row-major order). */
  private[multimodal] val JpegQuantChr: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Fixed-point DCT basis: K(u)(x) = round(c(u)·cos((2x+1)uπ/16)·4096),
    * c(0) = 1/√2 — public math, the 64 values pinned as literals so both
    * DCT directions (and the JpegSpec python-mirrored goldens) share one
    * table. Rows u ≥ 1 sum to zero EXACTLY (the ± pairing survives the
    * rounding), which is what makes flat-block AC exactly 0. */
  private[multimodal] val JpegDctK: Array[Array[Long]] = Array(
    Array(2896, 2896, 2896, 2896, 2896, 2896, 2896, 2896),
    Array(4017, 3406, 2276, 799, -799, -2276, -3406, -4017),
    Array(3784, 1567, -1567, -3784, -3784, -1567, 1567, 3784),
    Array(3406, -799, -4017, -2276, 2276, 4017, 799, -3406),
    Array(2896, -2896, -2896, 2896, 2896, -2896, -2896, 2896),
    Array(2276, -4017, 799, 3406, -3406, -799, 4017, -2276),
    Array(1567, -3784, 3784, -1567, -1567, 3784, -3784, 1567),
    Array(799, -2276, 3406, -4017, 4017, -3406, 2276, -799))

  /** Annex K.3 example Huffman specifications: 16 BITS counts + HUFFVAL. */
  private final class HuffSpec(val bits: Array[Int], val vals: Array[Int]) {
    require(bits.length == 16 && bits.sum == vals.length,
      s"Huffman spec inconsistent: ${bits.sum} codes vs ${vals.length} values")
  }

  private val JpegDcLum = new HuffSpec(
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val JpegDcChr = new HuffSpec(
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val JpegAcLum = new HuffSpec(
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d),
    Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
      0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
      0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
      0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
      0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
      0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
      0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
      0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
      0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))
  private val JpegAcChr = new HuffSpec(
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
      0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
      0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
      0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
      0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
      0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
      0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
      0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
      0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
      0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
      0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
      0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))

  /** Canonical code assignment (T.81 Annex C): codes of ascending length
    * in HUFFVAL order. Returns (codeLength, code) per symbol value. */
  private def huffEncodeTable(spec: HuffSpec): Array[(Int, Int)] = {
    val table = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < spec.bits(len - 1)) {
        table(spec.vals(k)) = (len, code)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    table
  }

  /** The encoders' (codeLength, code) tables: index 0 luma, 1 chroma. */
  private val JpegDcCodes: Array[Array[(Int, Int)]] =
    Array(huffEncodeTable(JpegDcLum), huffEncodeTable(JpegDcChr))
  private val JpegAcCodes: Array[Array[(Int, Int)]] =
    Array(huffEncodeTable(JpegAcLum), huffEncodeTable(JpegAcChr))

  /** MSB-first bit writer with T.81 §B.1.1.5 byte stuffing (0xFF → 0xFF 0x00),
    * carrying the DC and AC Huffman coders both encoders share. */
  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var nBits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nBits += len
      while (nBits >= 8) {
        val b = ((acc >> (nBits - 8)) & 0xFF).toInt
        out.write(b)
        if (b == 0xFF) out.write(0x00)
        nBits -= 8
      }
    }
    /** Pad the final partial byte with 1-bits (§B.1.1.5). */
    def flushAlign(): Unit =
      if (nBits > 0) put(0x7F, 8 - nBits) // all-ones pad
    /** The `cat` magnitude bits of `v`, negatives offset by 2^cat − 1. */
    private def putBits(v: Int, cat: Int): Unit =
      put(if (v < 0) v + (1 << cat) - 1 else v, cat)
    /** One DC difference: its category's code, then its magnitude bits. */
    def dc(codes: Array[(Int, Int)], diff: Int): Unit = {
      val cat = jpegCategory(diff)
      val (len, code) = codes(cat)
      put(code, len)
      putBits(diff, cat)
    }
    /** One block's AC coefficients 1..63 in zigzag order (`coef` is in
      * natural order): run/size codes, ZRL per 16 zeros before a nonzero
      * value, EOB after the last nonzero value. */
    def ac(codes: Array[(Int, Int)], coef: Array[Int]): Unit = {
      var run = 0
      var k = 1
      while (k < 64) {
        val v = coef(JpegZigzag(k))
        if (v == 0) run += 1
        else {
          while (run >= 16) {
            val (zl, zc) = codes(0xF0); put(zc, zl); run -= 16
          }
          val sz = jpegCategory(v)
          val (len, code) = codes((run << 4) | sz)
          put(code, len)
          putBits(v, sz)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (el, ec) = codes(0x00); put(ec, el) }
    }
  }

  private def scaleQuant(base: Array[Int], qscale: Int): Array[Int] =
    base.map(q => math.max(1, math.min(255, q * qscale)))

  /** Magnitude category (T.81 §F.1.2.1): number of bits to code `v`. */
  private def jpegCategory(v: Int): Int = {
    var cat = 0
    var m = math.abs(v)
    while (m != 0) { cat += 1; m >>= 1 }
    cat
  }

  /** Forward DCT + quantization of one block, all-integer. `samples` are
    * level-shifted (s − 128). DC goes through the EXACT S00 = Σs′/8 form;
    * AC through the K-table numerators (S = num / 2²⁶), both quantized
    * round-half-up: Sq = ⌊(2S + Q) / 2Q⌋. Output in natural order. */
  private[graft] def fdctQuant(samples: Array[Int], quant: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var dcRaw = 0
    var flat = true
    var i = 0
    while (i < 64) {
      dcRaw += samples(i)
      if (samples(i) != samples(0)) flat = false
      i += 1
    }
    out(0) = Math.floorDiv(dcRaw + 4 * quant(0), 8 * quant(0))
    // Flat block: every AC numerator is (v−128)·ΣK(u)·ΣK(v) and the K
    // rows for u ≥ 1 sum to ZERO exactly, so the AC loop would compute
    // 63 exact zeros — skip it. Identical output by construction
    // (JpegSpec pins the equivalence on the all-levels round trip).
    if (flat) return out
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        if (u != 0 || v != 0) {
          var num = 0L
          var y = 0
          while (y < 8) {
            val ky = JpegDctK(v)(y)
            var x = 0
            while (x < 8) {
              num += samples(y * 8 + x) * JpegDctK(u)(x) * ky
              x += 1
            }
            y += 1
          }
          val q = quant(v * 8 + u).toLong
          out(v * 8 + u) =
            Math.floorDiv(2 * num + (q << 26), q << 27).toInt
        }
        u += 1
      }
      v += 1
    }
    out
  }

  /** Inverse: dequantized coefficients (natural order) → clamped pixels.
    * p(x,y) = clamp(128 + ⌊(Σ R·K(u)(x)·K(v)(y) + 2²⁵) / 2²⁶⌋). */
  private def idctBlock(coef: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0L
        var v = 0
        while (v < 8) {
          val kv = JpegDctK(v)(y)
          var u = 0
          while (u < 8) {
            val r = coef(v * 8 + u)
            if (r != 0) s += r * JpegDctK(u)(x) * kv
            u += 1
          }
          v += 1
        }
        val p = 128 + ((s + (1L << 25)) >> 26).toInt
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
    out
  }

  /** The front half both JPEG encoders share: the argument checks, the
    * MCU geometry, the YCbCr planes and the `qscale`-scaled quantizers.
    * Component c is 0 = Y, 1 = Cb, 2 = Cr; luma carries the lumaH×lumaV
    * sampling factors and chroma is 1×1. Images whose dims aren't
    * multiples of the MCU are edge-replicated to the MCU grid (§A.2.1).
    * Chroma is box-averaged (round half up) over each lumaH×lumaV group —
    * the identity at 1×1, so 4:4:4 output is byte-stable, and exact on
    * flat regions, which keeps the oracle closed form. */
  private final class JpegFront(img: Image, qscale: Int, restartInterval: Int,
                                orientation: Int, val gray: Boolean,
                                val lumaH: Int, val lumaV: Int) {
    require(qscale >= 1 && qscale <= 15, s"qscale out of [1,15]: $qscale")
    require(restartInterval >= 0 && restartInterval <= 0xFFFF,
      s"restart interval out of [0,65535]: $restartInterval")
    require(orientation >= 1 && orientation <= 8,
      s"EXIF orientation $orientation outside the spec's [1,8] range")
    require(lumaH >= 1 && lumaH <= 2 && lumaV >= 1 && lumaV <= 2,
      s"luma sampling factors out of [1,2]: ${lumaH}x$lumaV")
    require(!gray || (lumaH == 1 && lumaV == 1),
      "grayscale has a single component — subsampling does not apply")
    val w: Int = img.width
    val h: Int = img.height
    // u16 SOF fields: dims past 65535 would silently truncate on the wire
    require(w >= 1 && w <= 0xFFFF && h >= 1 && h <= 0xFFFF,
      s"JPEG dimensions ${w}x$h out of the format's [1,65535] range")
    require(w.toLong * h <= MaxDecodePixels,
      s"JPEG dimensions ${w}x$h exceed the $MaxDecodePixels-pixel cap")
    val nComp: Int = if (gray) 1 else 3
    val mcusX: Int = (w + 8 * lumaH - 1) / (8 * lumaH)
    val mcusY: Int = (h + 8 * lumaV - 1) / (8 * lumaV)
    def fH(c: Int): Int = if (c == 0) lumaH else 1
    def fV(c: Int): Int = if (c == 0) lumaV else 1
    /** Blocks across and down component c's MCU-padded plane. */
    def blocksW(c: Int): Int = mcusX * fH(c)
    def blocksH(c: Int): Int = mcusY * fV(c)
    /** Quantizers, 0 = luma and 1 = chroma (natural order). */
    val quant: Array[Array[Int]] =
      Array(scaleQuant(JpegQuantLum, qscale), scaleQuant(JpegQuantChr, qscale))

    /** Component planes, each blocksW(c)·8 samples wide, not yet
      * level-shifted. */
    private val planes: Array[Array[Int]] = {
      val pwY = blocksW(0) * 8
      val full = Array.ofDim[Int](nComp, pwY * blocksH(0) * 8)
      var y = 0
      while (y < blocksH(0) * 8) {
        val sy = math.min(y, h - 1)
        var x = 0
        while (x < pwY) {
          val sx = math.min(x, w - 1)
          val p = (sy * w + sx) * 3
          val r = img.rgb(p) & 0xFF
          val g = img.rgb(p + 1) & 0xFF
          val b = img.rgb(p + 2) & 0xFF
          val o = y * pwY + x
          // JFIF fixed-point RGB→YCbCr; the multipliers sum to 256 (Y) and
          // 0 (Cb/Cr), so R=G=B lands on Y=R, Cb=Cr=128 EXACTLY.
          full(0)(o) = (77 * r + 150 * g + 29 * b + 128) >> 8
          if (!gray) {
            full(1)(o) = 128 + ((-43 * r - 85 * g + 128 * b + 128) >> 8)
            full(2)(o) = 128 + ((128 * r - 107 * g - 21 * b + 128) >> 8)
          }
          x += 1
        }
        y += 1
      }
      if (gray || (lumaH == 1 && lumaV == 1)) full
      else {
        val pwC = mcusX * 8
        val area = lumaH * lumaV
        Array.tabulate(3) { c =>
          if (c == 0) full(0)
          else {
            val src = full(c)
            val dst = new Array[Int](pwC * mcusY * 8)
            var cy = 0
            while (cy < mcusY * 8) {
              var cx = 0
              while (cx < pwC) {
                var s = 0
                var dy = 0
                while (dy < lumaV) {
                  var dx = 0
                  while (dx < lumaH) {
                    s += src((cy * lumaV + dy) * pwY + cx * lumaH + dx)
                    dx += 1
                  }
                  dy += 1
                }
                dst(cy * pwC + cx) = (s + area / 2) / area
                cx += 1
              }
              cy += 1
            }
            dst
          }
        }
      }
    }

    private val samples = new Array[Int](64)

    /** Level-shifted forward DCT + quantization of component c's block
      * (by, bx): a fresh coefficient array in natural order. */
    def coefficients(c: Int, by: Int, bx: Int): Array[Int] = {
      val pw = blocksW(c) * 8
      var i = 0
      while (i < 64) {
        samples(i) = planes(c)((by * 8 + i / 8) * pw + bx * 8 + i % 8) - 128
        i += 1
      }
      fdctQuant(samples, quant(math.min(c, 1)))
    }

    /** The interleaved MCU walk (§A.2.3): per MCU in raster order,
      * `atMcu(mcu index)`, then each component's fV×fH blocks in raster
      * order as `block(c, by, bx)`. */
    def mcuWalk(atMcu: Int => Unit)(block: (Int, Int, Int) => Unit): Unit = {
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          atMcu(my * mcusX + mx)
          var c = 0
          while (c < nComp) {
            var vb = 0
            while (vb < fV(c)) {
              var hb = 0
              while (hb < fH(c)) {
                block(c, my * fV(c) + vb, mx * fH(c) + hb)
                hb += 1
              }
              vb += 1
            }
            c += 1
          }
          mx += 1
        }
        my += 1
      }
    }
  }

  /** A JPEG byte stream with the marker-segment writers both encoders
    * share. */
  private final class JpegOut extends java.io.ByteArrayOutputStream(1024) {
    def u16(v: Int): Unit = { write((v >> 8) & 0xFF); write(v & 0xFF) }
    def marker(m: Int): Unit = { write(0xFF); write(m) }

    /** SOI; APP0 / JFIF 1.1; `appSegments` (what an encoder adds after
      * APP0); DQT, zigzag order on the wire; SOFn — `sof` is 0xC0
      * (baseline) or 0xC2 (progressive), precision 8, luma carrying the
      * sampling factors; DHT with the Annex K tables. */
    def header(f: JpegFront, sof: Int)(appSegments: => Unit): Unit = {
      val tables = if (f.gray) 1 else 2 // quantizers and Huffman table pairs
      marker(0xD8)
      marker(0xE0); u16(16)
      write("JFIF".getBytes("US-ASCII")); write(0)
      write(1); write(1); write(0) // version 1.1, units 0
      u16(1); u16(1); write(0); write(0)
      appSegments
      var id = 0
      while (id < tables) {
        marker(0xDB); u16(2 + 1 + 64); write(id)
        var k = 0
        while (k < 64) { write(f.quant(id)(JpegZigzag(k))); k += 1 }
        id += 1
      }
      marker(sof); u16(8 + 3 * f.nComp); write(8); u16(f.h); u16(f.w)
      write(f.nComp)
      var c = 0
      while (c < f.nComp) {
        write(c + 1) // component id
        write((f.fH(c) << 4) | f.fV(c))
        write(math.min(c, 1)) // quant table id
        c += 1
      }
      def dht(cls: Int, id: Int, spec: HuffSpec): Unit = {
        marker(0xC4); u16(2 + 1 + 16 + spec.vals.length)
        write((cls << 4) | id)
        spec.bits.foreach(write)
        spec.vals.foreach(write)
      }
      id = 0
      while (id < tables) {
        dht(0, id, if (id == 0) JpegDcLum else JpegDcChr)
        dht(1, id, if (id == 0) JpegAcLum else JpegAcChr)
        id += 1
      }
    }

    /** SOS over components `comps`, `tableIds(c)` = DC id << 4 | AC id,
      * spectral band Ss..Se, Ah = Al = 0. */
    def sos(comps: Range, tableIds: Int => Int, ss: Int, se: Int): Unit = {
      marker(0xDA); u16(6 + 2 * comps.size); write(comps.size)
      comps.foreach { c => write(c + 1); write(tableIds(c)) }
      write(ss); write(se); write(0)
    }
  }

  /** Encode baseline JPEG: YCbCr (3 components) or grayscale. `qscale`
    * multiplies the Annex K tables (clamped to [1,255]);
    * `restartInterval` > 0 emits DRI + RSTn markers every that many MCUs.
    * `lumaH`/`lumaV` are the luma sampling factors with chroma fixed at
    * 1×1 — (1,1) = 4:4:4 (byte-identical to the pre-subsampling encoder),
    * (2,1) = 4:2:2, (1,2) = 4:4:0, (2,2) = 4:2:0, the forms real camera/
    * web encoders emit; see [[JpegFront]] for the planes. The decoder
    * crops the MCU padding back. */
  def encodeJpeg(img: Image, qscale: Int = 1, restartInterval: Int = 0,
                 gray: Boolean = false, lumaH: Int = 1, lumaV: Int = 1,
                 orientation: Int = 1): Array[Byte] = {
    val f = new JpegFront(img, qscale, restartInterval, orientation, gray, lumaH, lumaV)
    val out = new JpegOut
    out.header(f, 0xC0) {
      if (orientation != 1) {
        // APP1 / Exif: minimal little-endian TIFF — header (8) + IFD0 with
        // the single Orientation entry (2 + 12) + next-IFD offset 0 (4)
        out.marker(0xE1); out.u16(2 + 6 + 26)
        out.write("Exif".getBytes("US-ASCII")); out.write(0); out.write(0)
        def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
        le16(0x4949)        // "II"
        le16(42); le16(8); le16(0) // magic, IFD0 at offset 8
        le16(1)             // one entry
        le16(0x0112); le16(3); le16(1); le16(0) // tag, SHORT, count 1
        le16(orientation); le16(0) // value, left-justified in its 4 bytes
        le16(0); le16(0)    // no next IFD
      }
    }
    if (restartInterval > 0) { out.marker(0xDD); out.u16(4); out.u16(restartInterval) }
    out.sos(0 until f.nComp, c => if (c == 0) 0x00 else 0x11, 0, 63)
    // entropy-coded segment: one interleaved scan, RSTn every
    // restartInterval MCUs (m cycling 0..7, DC predictors reset)
    val writer = new JpegBitWriter(out)
    val pred = new Array[Int](f.nComp)
    f.mcuWalk { mcu =>
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        writer.flushAlign()
        out.marker(0xD0 + (mcu / restartInterval - 1) % 8)
        java.util.Arrays.fill(pred, 0)
      }
    } { (c, by, bx) =>
      val coef = f.coefficients(c, by, bx)
      writer.dc(JpegDcCodes(math.min(c, 1)), coef(0) - pred(c))
      pred(c) = coef(0)
      writer.ac(JpegAcCodes(math.min(c, 1)), coef)
    }
    writer.flushAlign()
    out.marker(0xD9) // EOI
    out.toByteArray
  }

  /** Encode PROGRESSIVE JPEG (SOF2) by SPECTRAL SELECTION: scan 1 is the
    * interleaved DC scan of every component (Ss=Se=0, Ah=Al=0), then one
    * full-band AC scan (Ss=1, Se=63) per component in SOF order,
    * non-interleaved over the component's OWN block raster (§A.2.2 —
    * NOT the MCU-padded grid; trailing pad blocks keep AC 0 and crop
    * away). Per-block AC coding inside a band-complete first scan is
    * exactly the baseline entropy coder (EOB = an EOB run of 1), so the
    * pixels decode bit-identically to [[encodeJpeg]] at the same
    * qscale/factors — the m28 oracle property. Same front half, headers
    * and coders as the sequential encoder; no restart markers. */
  def encodeJpegProgressive(img: Image, qscale: Int = 1, gray: Boolean = false,
                            lumaH: Int = 1, lumaV: Int = 1): Array[Byte] = {
    val f = new JpegFront(img, qscale, 0, 1, gray, lumaH, lumaV)
    // every block's coefficients over the MCU-padded grids (the DC scan
    // walks every padded block), row-major per component
    val coefs = Array.tabulate(f.nComp) { c =>
      val bw = f.blocksW(c)
      Array.tabulate(bw * f.blocksH(c))(i => f.coefficients(c, i / bw, i % bw))
    }
    val out = new JpegOut
    out.header(f, 0xC2) {}
    // ---- scan 1: interleaved DC (Ss=0, Se=0; the AC table id is inert) ----
    out.sos(0 until f.nComp, c => if (c == 0) 0x00 else 0x10, 0, 0)
    val dcWriter = new JpegBitWriter(out)
    val pred = new Array[Int](f.nComp)
    f.mcuWalk(_ => ()) { (c, by, bx) =>
      val dc = coefs(c)(by * f.blocksW(c) + bx)(0)
      dcWriter.dc(JpegDcCodes(math.min(c, 1)), dc - pred(c))
      pred(c) = dc
    }
    dcWriter.flushAlign()
    // ---- scans 2..: one full-band AC scan (Ss=1, Se=63; the DC table id
    // is inert) per component, non-interleaved over ceil(compDim/8) blocks
    var c = 0
    while (c < f.nComp) {
      val nbw = ((f.w * f.fH(c) + lumaH - 1) / lumaH + 7) / 8
      val nbh = ((f.h * f.fV(c) + lumaV - 1) / lumaV + 7) / 8
      out.sos(c to c, _ => if (c == 0) 0x00 else 0x11, 1, 63)
      val writer = new JpegBitWriter(out)
      var by = 0
      while (by < nbh) {
        var bx = 0
        while (bx < nbw) {
          writer.ac(JpegAcCodes(math.min(c, 1)), coefs(c)(by * f.blocksW(c) + bx))
          bx += 1
        }
        by += 1
      }
      writer.flushAlign()
      c += 1
    }
    out.marker(0xD9)
    out.toByteArray
  }

  /** Huffman DECODE tables, rebuilt from the file's DHT bytes via the
    * spec's canonical-code reconstruction (T.81 §F.2.2.3 mincode/maxcode/
    * valptr walk) — the decoder never assumes this encoder's tables. */
  private final class HuffDecodeTable(bits: Array[Int], vals: Array[Int]) {
    require(bits.sum == vals.length && vals.length <= 256,
      s"DHT inconsistent: ${bits.sum} codes vs ${vals.length} values")
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) == 0) maxCode(len) = -1
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
    def value(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
  }

  /** MSB-first bit reader over the entropy-coded segment: 0xFF 0x00 is a
    * stuffed data byte; any other marker inside coefficient data is a
    * stream error (restarts are consumed EXPLICITLY at MCU boundaries by
    * [[expectRestart]], never here). */
  private final class JpegBitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    private def nextByte(): Int = {
      require(pos < bytes.length, "JPEG entropy stream truncated")
      val b = bytes(pos) & 0xFF
      pos += 1
      if (b == 0xFF) {
        require(pos < bytes.length, "JPEG entropy stream truncated at 0xFF")
        val m = bytes(pos) & 0xFF
        if (m == 0x00) { pos += 1; 0xFF }
        else throw new IllegalArgumentException(
          f"unexpected marker 0xFF$m%02X inside entropy data (corrupt or desynced stream)")
      } else b
    }
    def readBit(): Int = {
      if (nBits == 0) { acc = nextByte(); nBits = 8 }
      nBits -= 1
      (acc >> nBits) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decodeHuff(t: HuffDecodeTable): Int = {
      var code = readBit()
      var len = 1
      while (len < 16 && (t.maxCode(len) < 0 || code > t.maxCode(len))) {
        code = (code << 1) | readBit()
        len += 1
      }
      require(t.maxCode(len) >= 0 && code <= t.maxCode(len),
        "invalid Huffman code in JPEG entropy stream")
      t.value(len, code)
    }
    /** §F.2.1.3.1 EXTEND: magnitude bits → signed value. */
    def receiveExtend(cat: Int): Int = {
      if (cat == 0) 0
      else {
        val v = readBits(cat)
        if (v < (1 << (cat - 1))) v - (1 << cat) + 1 else v
      }
    }
    /** Byte-align and consume the expected RSTm marker. */
    def expectRestart(m: Int): Unit = {
      nBits = 0
      require(pos + 1 < bytes.length, "JPEG truncated at restart marker")
      val b0 = bytes(pos) & 0xFF; val b1 = bytes(pos + 1) & 0xFF
      require(b0 == 0xFF && b1 == 0xD0 + m,
        f"expected RST$m%d (0xFFD${m}%X) at offset $pos, found 0x$b0%02X$b1%02X")
      pos += 2
    }
  }

  /** Hard pixel cap for JPEG/GIF decode allocations: a crafted header
    * can declare up to 65535×65535 (≈4.3 G pixels), which overflows the
    * Int plane/rgb allocation arithmetic (2³² → 0 or negative) and, just
    * under the wrap, permits multi-GB attacker-controlled allocations in
    * the streaming media-gate path. 2²⁶ pixels (67 MP — beyond any gated
    * corpus image) keeps every derived allocation comfortably inside Int
    * and bounded; over-cap files fail loudly per the fuzz contract. */
  private[multimodal] val MaxDecodePixels: Long = 1L << 26

  /** Decode JPEG — baseline sequential (SOF0/SOF1) AND progressive
    * (SOF2), 8-bit precision, Huffman coding: marker walk, multi-scan
    * entropy decode (byte stuffing, restart markers) into per-component
    * QUANTIZED coefficient stores, then one dequantize + integer-IDCT
    * pass, per-component sample-replication upsampling (T.81 leaves the
    * reconstruction filter to the decoder; integer replication keeps
    * flat regions bit-exact, which is what keeps the oracle closed
    * form), YCbCr→RGB.
    *
    * Progressive support is the full §G.1 Huffman form: DC and AC
    * spectral selection, successive approximation (first + refinement
    * scans, Ah = Al + 1 progressions), EOB runs (EOBn), and the
    * refinement correction-bit pass of §G.1.2.3 — tables may be redefined
    * between scans (DHT/DRI mid-stream), AC scans are single-component
    * over the component's OWN ceil(dim/8) block raster, DC scans
    * interleave over the §A.2.3 Hmax/Vmax MCU geometry (so subsampled
    * progressive files decode too). A progression truncated after any
    * whole scan is accepted (the uncoded coefficients stay 0 — the
    * partial-render property progressive encoding exists for).
    *
    * Baseline semantics are the degenerate single-scan case of the same
    * machinery: Ss=0..Se=63 with Ah=Al=0 decodes DC and AC in one block
    * pass, and the stored-then-dequantized arithmetic is integer-
    * identical to dequantizing inline (the m19 closed form is untouched).
    * Scope REJECTIONS stay named: lossless/hierarchical SOF variants,
    * 12-bit precision or quant tables, arithmetic coding. Grayscale
    * output replicates luma into all three channels. */
  def decodeJpeg(bytes: Array[Byte]): JpegImage = {
    require(bytes.length >= 4 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8, "not a JPEG: SOI marker missing")
    def u16(off: Int): Int = {
      require(off + 1 < bytes.length, "JPEG truncated in a marker segment")
      ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)
    }
    // Segment length includes its own two bytes; anything smaller would
    // stall or rewind the marker walk on crafted input.
    def segLen(off: Int): Int = {
      val len = u16(off)
      require(len >= 2, s"JPEG marker segment with invalid length $len")
      len
    }
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffDecodeTable](4)
    val acTabs = new Array[HuffDecodeTable](4)
    var width = 0; var height = 0
    var nComp = 0
    var restartInterval = 0
    var progressive = false
    var orientation = 1
    // per component: id, quant table id, H/V sampling factors
    var compQuant: Array[Int] = null
    var compIds: Array[Int] = null
    var sampH: Array[Int] = null
    var sampV: Array[Int] = null
    // geometry + quantized-coefficient stores, allocated at SOF
    var hMax = 1; var vMax = 1; var mcusX = 0; var mcusY = 0
    var bw: Array[Int] = null // per-comp MCU-padded block columns
    var bh: Array[Int] = null
    var nbw: Array[Int] = null // per-comp non-interleaved block columns
    var nbh: Array[Int] = null
    var stores: Array[Array[Int]] = null
    // scan-sequence sanity: AC/refinement scans need the DC-first scan
    val dcFirstDone = new Array[Boolean](4)

    /** One scan from its SOS length field: parse the scan header, decode
      * every data unit into the coefficient stores, return the offset of
      * the next marker. Covers baseline (full-spectrum interleaved) and
      * every progressive scan kind through one block decoder. */
    def decodeScan(sosPos: Int): Int = {
      val len = segLen(sosPos)
      require(sosPos + len <= bytes.length && len >= 3,
        "SOS segment runs past end of file")
      require(width > 0, "SOS before SOF")
      val ns = bytes(sosPos + 2) & 0xFF
      require(ns >= 1 && ns <= nComp, s"SOS component count $ns out of range")
      require(len >= 6 + 2 * ns, "SOS too short for its components")
      val scanComps = new Array[Int](ns)
      val scanDc = new Array[Int](ns); val scanAc = new Array[Int](ns)
      var c = 0
      var lastIdx = -1
      while (c < ns) {
        val cid = bytes(sosPos + 3 + 2 * c) & 0xFF
        val idx = compIds.indexOf(cid)
        require(idx >= 0, s"SOS names component id $cid absent from SOF")
        require(idx > lastIdx, "SOS components out of SOF order")
        lastIdx = idx
        scanComps(c) = idx
        scanDc(c) = (bytes(sosPos + 4 + 2 * c) & 0xFF) >> 4
        scanAc(c) = bytes(sosPos + 4 + 2 * c) & 0x0F
        require(scanDc(c) <= 3 && scanAc(c) <= 3,
          s"Huffman table id out of range (${scanDc(c)}/${scanAc(c)})")
        c += 1
      }
      val ss = bytes(sosPos + 3 + 2 * ns) & 0xFF
      val se = bytes(sosPos + 4 + 2 * ns) & 0xFF
      val ahal = bytes(sosPos + 5 + 2 * ns) & 0xFF
      val ah = ahal >> 4; val al = ahal & 0x0F
      if (!progressive) {
        require(ns == nComp, s"baseline SOS component count $ns != SOF $nComp")
        require(ss == 0 && se == 63 && ah == 0 && al == 0,
          s"baseline scan must cover the full spectrum (Ss=$ss Se=$se Ah=$ah Al=$al)")
      } else {
        require(al <= 13 && (ah == 0 || ah == al + 1),
          s"successive approximation Ah=$ah Al=$al outside the spec's progression")
        if (ss == 0)
          require(se == 0, "progressive scan with Ss=0 must be DC-only (Se=0)")
        else {
          require(se >= ss && se <= 63, s"spectral band $ss..$se invalid")
          require(ns == 1, "progressive AC scans are single-component")
        }
        c = 0
        while (c < ns) {
          if (ss == 0 && ah == 0) dcFirstDone(scanComps(c)) = true
          else require(dcFirstDone(scanComps(c)),
            "progressive scan sequence: DC-first scan missing for a component")
          c += 1
        }
      }
      // table presence for exactly what THIS scan reads (DC refinement
      // reads raw bits, no table; AC scans read the AC table)
      c = 0
      while (c < ns) {
        if (ss == 0 && ah == 0)
          require(dcTabs(scanDc(c)) != null, s"missing DC Huffman table ${scanDc(c)}")
        if (se >= 1)
          require(acTabs(scanAc(c)) != null, s"missing AC Huffman table ${scanAc(c)}")
        c += 1
      }
      val reader = new JpegBitReader(bytes, sosPos + len)
      val pred = new Array[Int](ns)
      var eobrun = 0
      val interleaved = ns > 1

      // sc = scan-local component index
      def decodeBlock(sc: Int, store: Array[Int], off: Int): Unit = {
        if (ss == 0) {
          if (ah == 0) {
            val cat = reader.decodeHuff(dcTabs(scanDc(sc)))
            require(cat <= 11, s"DC category $cat out of range")
            pred(sc) += reader.receiveExtend(cat)
            store(off) = pred(sc) << al
          } else if (reader.readBit() == 1) store(off) |= (1 << al)
        }
        if (se >= 1) {
          if (ah == 0) {
            // first AC pass (baseline AC is the al=0, EOBRUN=1 case)
            if (eobrun > 0) { eobrun -= 1; return }
            var k = math.max(1, ss)
            var inBand = true
            while (inBand && k <= se) {
              val rs = reader.decodeHuff(acTabs(scanAc(sc)))
              val r = rs >> 4; val sz = rs & 0x0F
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else {
                  // T.81 defines EOBn (r > 0, size 0) for progressive
                  // scans ONLY — in a baseline scan the code is a plain
                  // EOB (r == 0) or nothing: reject rather than silently
                  // skipping 2^r−1 blocks of a corrupt/crafted stream
                  require(progressive || r == 0,
                    s"EOB$r run code in a baseline scan (EOBn is progressive-only)")
                  eobrun = (1 << r) - 1 + reader.readBits(r); inBand = false
                }
              } else {
                k += r
                require(k <= se, "AC run overflows the spectral band")
                store(off + JpegZigzag(k)) = reader.receiveExtend(sz) << al
                k += 1
              }
            }
          } else {
            // AC refinement: the §G.1.2.3 correction-bit pass — every
            // already-nonzero coefficient in the walked span reads one
            // correction bit; newly-born coefficients carry magnitude 1
            val p1 = 1 << al
            var k = math.max(1, ss)
            if (eobrun == 0) {
              var inBand = true
              while (inBand && k <= se) {
                val rs = reader.decodeHuff(acTabs(scanAc(sc)))
                var r = rs >> 4; val sz = rs & 0x0F
                var insert = 0
                if (sz == 0) {
                  if (r < 15) { eobrun = (1 << r) + reader.readBits(r); inBand = false }
                  // r == 15: ZRL — pass 16 zero-HISTORY coefficients
                } else {
                  require(sz == 1, s"refinement AC magnitude $sz != 1")
                  insert = if (reader.readBit() == 1) p1 else -p1
                }
                if (inBand) {
                  var advancing = true
                  while (advancing && k <= se) {
                    val zi = off + JpegZigzag(k)
                    val v = store(zi)
                    if (v != 0) {
                      if (reader.readBit() == 1 && (v & p1) == 0)
                        store(zi) = if (v >= 0) v + p1 else v - p1
                    } else if (r == 0) {
                      if (insert != 0) store(zi) = insert
                      advancing = false
                    } else r -= 1
                    k += 1
                  }
                }
              }
            }
            if (eobrun > 0) {
              // inside an EOB run: correction bits only, to the band end
              while (k <= se) {
                val zi = off + JpegZigzag(k)
                val v = store(zi)
                if (v != 0 && reader.readBit() == 1 && (v & p1) == 0)
                  store(zi) = if (v >= 0) v + p1 else v - p1
                k += 1
              }
              eobrun -= 1
            }
          }
        }
      }

      val units =
        if (interleaved) mcusX * mcusY
        else { val ci = scanComps(0); nbw(ci) * nbh(ci) }
      var unit = 0
      var rstIdx = 0
      while (unit < units) {
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          reader.expectRestart(rstIdx)
          rstIdx = (rstIdx + 1) % 8
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
        if (interleaved) {
          val my = unit / mcusX; val mx = unit % mcusX
          var sc = 0
          while (sc < ns) {
            val ci = scanComps(sc)
            var vb = 0
            while (vb < sampV(ci)) {
              var hb = 0
              while (hb < sampH(ci)) {
                val bIdx = (my * sampV(ci) + vb) * bw(ci) + mx * sampH(ci) + hb
                decodeBlock(sc, stores(ci), bIdx * 64)
                hb += 1
              }
              vb += 1
            }
            sc += 1
          }
        } else {
          val ci = scanComps(0)
          val by = unit / nbw(ci); val bx = unit % nbw(ci)
          decodeBlock(0, stores(ci), (by * bw(ci) + bx) * 64)
        }
        unit += 1
      }
      // advance to the next marker: entropy data ends where a
      // non-stuffing 0xFF begins (skipping any byte-align padding)
      var p = reader.pos
      while (p + 1 < bytes.length &&
        !((bytes(p) & 0xFF) == 0xFF && (bytes(p + 1) & 0xFF) != 0x00)) p += 1
      require(p + 1 < bytes.length, "JPEG truncated after scan data")
      p
    }

    // ---- marker walk: headers, then one scan (baseline) or scans up to
    // EOI (progressive) ----
    var pos = 2
    var seenScan = false
    var done = false
    while (!done) {
      require(pos + 1 < bytes.length,
        if (seenScan) "JPEG truncated before EOI" else "JPEG truncated before SOS")
      require((bytes(pos) & 0xFF) == 0xFF,
        f"expected a marker at offset $pos, found 0x${bytes(pos) & 0xFF}%02X")
      val m = bytes(pos + 1) & 0xFF
      pos += 2
      m match {
        case 0xD8 => // stray SOI: invalid
          throw new IllegalArgumentException("unexpected SOI inside stream")
        case x if x == 0x01 || (x >= 0xD0 && x <= 0xD7) =>
          () // standalone markers: no length
        case 0xDB =>
          val len = segLen(pos); val end = pos + len
          require(end <= bytes.length, "DQT segment runs past end of file")
          var p = pos + 2
          while (p < end) {
            val pq = (bytes(p) & 0xFF) >> 4
            val tq = bytes(p) & 0x0F
            require(pq == 0, s"unsupported 16-bit quant table (Pq=$pq)")
            require(tq <= 3, s"quant table id $tq out of range")
            require(end - p >= 65, "DQT segment truncated")
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              t(JpegZigzag(k)) = bytes(p + 1 + k) & 0xFF
              k += 1
            }
            quant(tq) = t
            p += 65
          }
          pos = end
        case 0xC4 =>
          val len = segLen(pos); val end = pos + len
          require(end <= bytes.length, "DHT segment runs past end of file")
          var p = pos + 2
          while (p < end) {
            val cls = (bytes(p) & 0xFF) >> 4
            val id = bytes(p) & 0x0F
            require(cls <= 1 && id <= 3, s"bad DHT class/id $cls/$id")
            require(end - p >= 17, "DHT segment truncated")
            val bits = Array.tabulate(16)(i => bytes(p + 1 + i) & 0xFF)
            val n = bits.sum
            require(end - p >= 17 + n, "DHT segment truncated")
            val vals = Array.tabulate(n)(i => bytes(p + 17 + i) & 0xFF)
            val t = new HuffDecodeTable(bits, vals)
            if (cls == 0) dcTabs(id) = t else acTabs(id) = t
            p += 17 + n
          }
          pos = end
        case 0xC0 | 0xC1 | 0xC2 =>
          // SOF0 baseline / SOF1 extended sequential (same 8-bit Huffman
          // decode path) / SOF2 progressive
          require(width == 0, "duplicate SOF")
          progressive = m == 0xC2
          val len = segLen(pos)
          require(pos + len <= bytes.length && len >= 9,
            "SOF segment runs past end of file")
          val prec = bytes(pos + 2) & 0xFF
          require(prec == 8, s"unsupported JPEG precision $prec (8-bit only)")
          height = u16(pos + 3); width = u16(pos + 5)
          require(width > 0 && height > 0, "JPEG with zero dimension")
          require(width.toLong * height <= MaxDecodePixels,
            s"JPEG dimensions ${width}x$height exceed the $MaxDecodePixels-pixel decode cap")
          nComp = bytes(pos + 7) & 0xFF
          require(nComp == 1 || nComp == 3,
            s"unsupported component count $nComp (grayscale or YCbCr only)")
          require(len >= 8 + 3 * nComp, "SOF too short for its components")
          compIds = new Array[Int](nComp)
          compQuant = new Array[Int](nComp)
          sampH = new Array[Int](nComp)
          sampV = new Array[Int](nComp)
          var c = 0
          var unitsPerMcu = 0
          while (c < nComp) {
            compIds(c) = bytes(pos + 8 + 3 * c) & 0xFF
            val hv = bytes(pos + 9 + 3 * c) & 0xFF
            sampH(c) = hv >> 4; sampV(c) = hv & 0x0F
            require(sampH(c) >= 1 && sampH(c) <= 4 &&
              sampV(c) >= 1 && sampV(c) <= 4,
              f"sampling factors 0x$hv%02X out of the spec's [1,4] range")
            unitsPerMcu += sampH(c) * sampV(c)
            compQuant(c) = bytes(pos + 10 + 3 * c) & 0x0F
            require(compQuant(c) <= 3, s"quant table id ${compQuant(c)} out of range")
            c += 1
          }
          // §B.2.3: at most 10 data units per interleaved MCU
          require(nComp == 1 || unitsPerMcu <= 10,
            s"$unitsPerMcu data units per MCU exceeds the spec's limit of 10")
          if (nComp == 1) {
            // single-component scans are non-interleaved (§A.2.2): the
            // MCU is one data unit and the declared factors are inert
            sampH(0) = 1; sampV(0) = 1
          }
          hMax = sampH.max; vMax = sampV.max
          mcusX = (width + 8 * hMax - 1) / (8 * hMax)
          mcusY = (height + 8 * vMax - 1) / (8 * vMax)
          bw = Array.tabulate(nComp)(ci => mcusX * sampH(ci))
          bh = Array.tabulate(nComp)(ci => mcusY * sampV(ci))
          // non-interleaved block raster: the component's OWN dims
          // (ceil(dim·fac/max / 8)), NOT the MCU-padded grid (§A.2.2)
          nbw = Array.tabulate(nComp)(ci =>
            ((width * sampH(ci) + hMax - 1) / hMax + 7) / 8)
          nbh = Array.tabulate(nComp)(ci =>
            ((height * sampV(ci) + vMax - 1) / vMax + 7) / 8)
          stores = Array.tabulate(nComp)(ci => new Array[Int](bw(ci) * bh(ci) * 64))
          pos += len
        case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
          throw new IllegalArgumentException(
            f"unsupported SOF marker 0xFF$m%02X (sequential/progressive Huffman only)")
        case 0xDD =>
          require(u16(pos) == 4, "bad DRI length")
          restartInterval = u16(pos + 2)
          pos += 4
        case 0xDA =>
          pos = decodeScan(pos)
          seenScan = true
          if (!progressive) done = true // baseline: exactly one scan
        case 0xD9 =>
          require(seenScan, "EOI before any scan data")
          done = true
        case 0xE1 =>
          // APP1: an "Exif\0\0" payload is walked for the orientation
          // tag (a segment claiming Exif must parse — named rejections);
          // any other APP1 (XMP, …) is opaque metadata, skipped
          val len = segLen(pos); val end = pos + len
          require(end <= bytes.length, "APP1 segment runs past end of file")
          if (len >= 2 + 6 && bytes(pos + 2) == 'E' && bytes(pos + 3) == 'x' &&
              bytes(pos + 4) == 'i' && bytes(pos + 5) == 'f' &&
              bytes(pos + 6) == 0 && bytes(pos + 7) == 0)
            orientation = parseExifOrientation(bytes, pos + 8, end)
          pos = end
        case _ =>
          pos += segLen(pos) // APPn / COM / anything with a length: skip
      }
    }
    // ---- dequantize + IDCT every stored block into the pixel planes ----
    var c = 0
    while (c < nComp) {
      require(quant(compQuant(c)) != null, s"missing quant table ${compQuant(c)}")
      c += 1
    }
    val planes = Array.tabulate(nComp)(ci => new Array[Int](bw(ci) * 8 * bh(ci) * 8))
    val coef = new Array[Int](64)
    c = 0
    while (c < nComp) {
      val q = quant(compQuant(c))
      val store = stores(c)
      val plane = planes(c)
      val pw = bw(c) * 8
      var by = 0
      while (by < bh(c)) {
        var bx = 0
        while (bx < bw(c)) {
          val off = (by * bw(c) + bx) * 64
          var i = 0
          while (i < 64) { coef(i) = store(off + i) * q(i); i += 1 }
          val px = idctBlock(coef)
          var j = 0
          while (j < 64) {
            plane((by * 8 + j / 8) * pw + bx * 8 + j % 8) = px(j)
            j += 1
          }
          bx += 1
        }
        by += 1
      }
      c += 1
    }
    // Upsample (integer sample replication: source sample x·Hc/Hmax,
    // y·Vc/Vmax — exact on flat regions) + YCbCr→RGB (JFIF fixed point),
    // cropping the MCU grid to the SOF dims.
    val rgb = new Array[Byte](width * height * 3)
    def clamp(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
    val pwY = bw(0) * 8
    val pwCb = if (nComp == 3) bw(1) * 8 else 0
    val pwCr = if (nComp == 3) bw(2) * 8 else 0
    var yy = 0
    while (yy < height) {
      var xx = 0
      while (xx < width) {
        val p = (yy * width + xx) * 3
        if (nComp == 1) {
          val g = clamp(planes(0)(yy * pwY + xx))
          rgb(p) = g; rgb(p + 1) = g; rgb(p + 2) = g
        } else {
          val yv = planes(0)(
            (yy * sampV(0) / vMax) * pwY + xx * sampH(0) / hMax)
          val cb = planes(1)(
            (yy * sampV(1) / vMax) * pwCb + xx * sampH(1) / hMax) - 128
          val cr = planes(2)(
            (yy * sampV(2) / vMax) * pwCr + xx * sampH(2) / hMax) - 128
          rgb(p) = clamp(yv + ((91881 * cr + 32768) >> 16))
          rgb(p + 1) = clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16))
          rgb(p + 2) = clamp(yv + ((116130 * cb + 32768) >> 16))
        }
        xx += 1
      }
      yy += 1
    }
    JpegImage(Image(width, height, rgb), nComp, restartInterval,
      sampH(0), sampV(0), progressive, orientation)
  }
}
