package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Codecs
import graft.multimodal.Codecs.{Image, Pcm}

/** Byte identity of every public encoder in [[Codecs]]: the SHA-256 of
  * each output over a fixed grid of inputs, and of each rejection's class
  * and message, pinned as hex. The digests were taken before the
  * encoders were folded onto shared header writers and coders, so any
  * output byte or error message that moves shows up here by grid point.
  * A source guard then checks that each container header is written once. */
class CodecGoldenSpec extends AnyFunSuite {
  import CodecGoldenSpec._

  test("every public encoder's output and rejection matches its pinned digest") {
    val got = digests
    assert(got.map(_._1) == Expected.map(_._1), "the grid itself changed")
    val drift = got.zip(Expected).collect { case ((k, g), (_, e)) if g != e => k }
    assert(drift.isEmpty, s"${drift.size} grid points drifted: ${drift.mkString(", ")}")
  }

  test("Codecs writes each container header once") {
    val src = new String(
      Files.readAllBytes(Paths.get("src/main/scala/graft/multimodal/Codecs.scala")), UTF_8)
    def count(s: String): Int = src.sliding(s.length).count(_ == s)
    // the reader's magic check is the one other "WAVE"
    assert(count("\"WAVE\"") - count("== \"WAVE\"") == 1, "RIFF/WAVE header writers")
    assert(count("\"GIF89a\"") == 1, "GIF header writers")
    assert(count("marker(0xE0)") == 1, "JPEG APP0 writers")
    assert(count("marker(0xDB)") == 1, "JPEG DQT writers")
  }
}

object CodecGoldenSpec {
  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  /** A deterministic RGB image with enough texture for nonzero AC. */
  def image(w: Int, h: Int, seed: Int = 0): Image = Image(w, h, Array.tabulate(w * h * 3) { i =>
    val p = i / 3; val x = p % w; val y = p / w; val c = i % 3
    (((x * 37 + y * 91 + c * 53 + seed * 17) ^ (x * y * 7)) & 0xFF).toByte
  })

  private def indices(w: Int, h: Int, colors: Int, seed: Int): Array[Byte] =
    Array.tabulate(w * h)(i => ((i % w * 3 + i / w * 5 + seed) % colors).toByte)

  private val palette8: Array[Int] = Array.tabulate(8)(i => i * 0x1F2E3D + 0x102030)
  private val monoSamples: Array[Short] =
    Array[Int](0, 32767, -32768, 1234, -4321, 255, -1).map(_.toShort)
  private val stereoSamples: Array[Short] =
    monoSamples ++ monoSamples.reverse.map(s => (s ^ 0x5A5A).toShort)

  /** (grid point, digest) in a fixed order. */
  def digests: Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    def add(k: String)(f: => Array[Byte]): Unit = out += k -> sha256(f)
    def reject(k: String)(f: => Array[Byte]): Unit = out += k -> (
      try { f; "accepted" }
      catch { case e: Exception => sha256(s"${e.getClass.getName}: ${e.getMessage}".getBytes(UTF_8)) })
    val img = image(13, 9)
    val factors = Seq((1, 1), (2, 1), (1, 2), (2, 2))
    for (q <- Seq(1, 4); (gray, (fh, fv)) <- factors.map(false -> _) :+ (true -> (1, 1))) {
      val tone = if (gray) "gray" else "color"
      for (rst <- Seq(0, 3); o <- Seq(1, 6))
        add(s"jpeg/q$q/$tone/${fh}x$fv/rst$rst/o$o")(
          Codecs.encodeJpeg(img, q, rst, gray, fh, fv, o))
      add(s"jpeg-progressive/q$q/$tone/${fh}x$fv")(
        Codecs.encodeJpegProgressive(img, q, gray, fh, fv))
    }
    for (ch <- Seq(1, 2); junk <- Seq(false, true)) {
      val s = if (ch == 1) monoSamples else stereoSamples
      val tag = s"ch$ch/junk$junk"
      add(s"wav/pcm16/$tag")(Codecs.encodeWav(Pcm(8000, ch, s), junk))
      add(s"wav/pcm8/$tag")(Codecs.encodeWavPcm8(s.map(Codecs.pcm8Compress), 8000, ch, junk))
      add(s"wav/float/$tag")(Codecs.encodeWavFloat(Pcm(22050, ch, s), junk))
      add(s"wav/mulaw/$tag")(Codecs.encodeWavMulaw(s.map(Codecs.mulawCompress), 8000, ch, junk))
      add(s"wav/alaw/$tag")(Codecs.encodeWavAlaw(s.map(Codecs.alawCompress), 8000, ch, junk))
    }
    for (interlaced <- Seq(false, true))
      add(s"gif/interlaced$interlaced")(
        Codecs.encodeGif(7, 10, palette8, indices(7, 10, 8, 0), interlaced))
    val frames = Seq((indices(7, 10, 8, 1), false, 10), (indices(7, 10, 8, 2), true, 0),
      (indices(7, 10, 8, 3), false, 250))
    for (loops <- Seq(-1, 2))
      add(s"gif-animated/loops$loops")(Codecs.encodeGifAnimated(7, 10, palette8, frames, loops))
    for (w <- 1 to 4) {
      for (topDown <- Seq(false, true))
        add(s"bmp24/w$w/topDown$topDown")(Codecs.encodeBmp(image(w, 3, w), topDown))
      add(s"bmp8/w$w")(Codecs.encodeBmpIndexed(w, 3, palette8.take(6), indices(w, 3, 6, w)))
    }
    add("avi-dib/3x2")(Codecs.encodeAviDib(Seq(image(3, 2, 1), image(3, 2, 2)), 33333))
    add("avi-mjpeg/13x9")(Codecs.encodeAvi(
      Seq(Codecs.encodeJpeg(img), Codecs.encodeJpeg(image(13, 9, 5), 2)), 13, 9))
    for (interlaced <- Seq(false, true)) {
      for (rgba <- Seq(false, true))
        add(s"png/rgba$rgba/interlaced$interlaced")(Codecs.encodePng(img, rgba, interlaced))
      val grayImg = Image(13, 9, img.rgb.grouped(3).flatMap(p => Array(p(1), p(1), p(1))).toArray)
      add(s"png-gray/interlaced$interlaced")(Codecs.encodePngGray(grayImg, interlaced))
      add(s"png-palette/interlaced$interlaced")(
        Codecs.encodePngPalette(13, 9, palette8, indices(13, 9, 8, 4), interlaced))
    }
    // rejections: class and message of each argument check
    reject("err/jpeg/qscale0")(Codecs.encodeJpeg(img, qscale = 0))
    reject("err/jpeg/restart")(Codecs.encodeJpeg(img, restartInterval = 0x10000))
    reject("err/jpeg/orientation9")(Codecs.encodeJpeg(img, orientation = 9))
    reject("err/jpeg/luma3")(Codecs.encodeJpeg(img, lumaH = 3))
    reject("err/jpeg/gray-subsampled")(Codecs.encodeJpeg(img, gray = true, lumaV = 2))
    reject("err/jpeg/width0")(Codecs.encodeJpeg(Image(0, 1, Array.emptyByteArray)))
    reject("err/jpeg-progressive/qscale16")(Codecs.encodeJpegProgressive(img, qscale = 16))
    reject("err/jpeg-progressive/luma0")(Codecs.encodeJpegProgressive(img, lumaV = 0))
    reject("err/jpeg-progressive/gray-subsampled")(
      Codecs.encodeJpegProgressive(img, gray = true, lumaH = 2))
    reject("err/jpeg-progressive/width0")(Codecs.encodeJpegProgressive(Image(0, 1, Array.emptyByteArray)))
    reject("err/wav/pcm16/ch0")(Codecs.encodeWav(Pcm(8000, 0, monoSamples)))
    reject("err/wav/pcm8/ch0")(Codecs.encodeWavPcm8(Array[Byte](1), 8000, 0))
    reject("err/wav/float/ch0")(Codecs.encodeWavFloat(Pcm(8000, 0, monoSamples)))
    reject("err/wav/mulaw/ch0")(Codecs.encodeWavMulaw(Array[Byte](1), 8000, 0))
    reject("err/wav/alaw/ch0")(Codecs.encodeWavAlaw(Array[Byte](1), 8000, 0))
    reject("err/gif/palette3")(Codecs.encodeGif(2, 2, palette8.take(3), indices(2, 2, 3, 0)))
    reject("err/gif/dims")(Codecs.encodeGif(0, 2, palette8, Array.emptyByteArray))
    reject("err/gif/indices")(Codecs.encodeGif(2, 2, palette8, indices(2, 1, 8, 0)))
    reject("err/gif/index-range")(Codecs.encodeGif(2, 2, palette8.take(2), indices(2, 2, 8, 0)))
    reject("err/gif-animated/palette3")(Codecs.encodeGifAnimated(7, 10, palette8.take(3), frames))
    reject("err/gif-animated/no-frames")(Codecs.encodeGifAnimated(7, 10, palette8, Nil))
    reject("err/gif-animated/loops")(Codecs.encodeGifAnimated(7, 10, palette8, frames, 0x10000))
    reject("err/gif-animated/delay")(
      Codecs.encodeGifAnimated(7, 10, palette8, Seq((indices(7, 10, 8, 0), false, -1))))
    reject("err/bmp8/palette0")(Codecs.encodeBmpIndexed(1, 1, Array.emptyIntArray, Array[Byte](0)))
    reject("err/bmp8/indices")(Codecs.encodeBmpIndexed(2, 2, palette8, Array[Byte](0)))
    reject("err/avi-dib/empty")(Codecs.encodeAviDib(Nil))
    reject("err/avi-dib/geometry")(Codecs.encodeAviDib(Seq(image(3, 2), image(2, 3))))
    out.result()
  }

  val Expected: Seq[(String, String)] = Seq(
    "jpeg/q1/color/1x1/rst0/o1" -> "4613312ae0a901435625682ed9e58db0e9cb50d455505053eab041fb3090ab87",
    "jpeg/q1/color/1x1/rst0/o6" -> "5f04d278d3f9c1f72761fca77258560744eabea67a39deb48e5ceb47aec18657",
    "jpeg/q1/color/1x1/rst3/o1" -> "40dc9585de0f816565aafdd9a872b52eaa95eced7f459eaec61ac9c781d73757",
    "jpeg/q1/color/1x1/rst3/o6" -> "fdc0c554c91180d2ebf7295d6f838eeaff10d6ffe9b0c0d9c93567895945696f",
    "jpeg-progressive/q1/color/1x1" -> "f20a6c13c52c0e1cf1321a1cf6d180917d297be0f70eb89fed3b5a678299d57e",
    "jpeg/q1/color/2x1/rst0/o1" -> "cc4bd66ecbc27377ccc6df90fcaa90f3553b9ba8b306a1569be8fbd3fda45bab",
    "jpeg/q1/color/2x1/rst0/o6" -> "82974d71f4bbf0b4095309abdb2dfb7e858c71a7dfc4da3a771099443ec52eee",
    "jpeg/q1/color/2x1/rst3/o1" -> "29349e824b18c3623259079e07b0ab2039a8c494ebd08b24ab1d3dbab5c0e7f2",
    "jpeg/q1/color/2x1/rst3/o6" -> "ec44b80863492c9630abb48c1e073e73e5ba20ac86d2be114fc1f42c710e0ea4",
    "jpeg-progressive/q1/color/2x1" -> "750f739e09b813f675282040af10daff2c6c3d2a06ab5b940fbc989e26e3cf54",
    "jpeg/q1/color/1x2/rst0/o1" -> "b965946d6c3193a5904dc4292031d227b69ddabcd29be11e53e38479fb99ae46",
    "jpeg/q1/color/1x2/rst0/o6" -> "a7e97c50e02210bddd794293473851a6858d54b1112e341baaaa45dc5a93b76f",
    "jpeg/q1/color/1x2/rst3/o1" -> "f80829b8319280b6601c8855551af0bbc3319fdb8d8d2c062ae359f2169b5a07",
    "jpeg/q1/color/1x2/rst3/o6" -> "0f3cf5d7436f1465b4fb42880e134fa5cc813dfeab7817a7b4bc43a5c967c04e",
    "jpeg-progressive/q1/color/1x2" -> "20bb66bc69d8a89520f94bdfd0dda84e673e3d936c46eae2c889890c56c04755",
    "jpeg/q1/color/2x2/rst0/o1" -> "aa619f0642abb7984d0b00930d432ce7f3a9b5d0065a07a5b7515a1e28371096",
    "jpeg/q1/color/2x2/rst0/o6" -> "23fdbe96df408e5d3965d341bf617e8b6abc12c06f8cd74b12d30796b1ea8be6",
    "jpeg/q1/color/2x2/rst3/o1" -> "47333b01de53d96455ce2f7eaf2bcd4a0081ca6d474f1db13e1baefe858b8d04",
    "jpeg/q1/color/2x2/rst3/o6" -> "cd7d71ccabd6bdc50dc526da3e67a23facc72db44b1abe2509ed08e1d089a105",
    "jpeg-progressive/q1/color/2x2" -> "6b59a38b7c807d679ece78fa21a795a6c7d85d4937c8e20767bd448afdd55c9a",
    "jpeg/q1/gray/1x1/rst0/o1" -> "ad7e8754cbeece17ad6ed2d01d1e6a7c336660e38e7f834df8a3fc417b3710ca",
    "jpeg/q1/gray/1x1/rst0/o6" -> "2a5a73c02347701f12d80b8c8dab29150a70d6bf6acc287a59078ed9df14b691",
    "jpeg/q1/gray/1x1/rst3/o1" -> "0ed945a2042a80fd41407e9355b87103fc3edbb58ee371a7db54cba7e97f08d1",
    "jpeg/q1/gray/1x1/rst3/o6" -> "825100d271912fb824acc130b30f56574b21d216fa357c0e3c9a3b3258213796",
    "jpeg-progressive/q1/gray/1x1" -> "adff5d7ed2b23b7564ac3e107a4bcebd8231b067ede0adffd189222a04162fe6",
    "jpeg/q4/color/1x1/rst0/o1" -> "2cca679a6aa38616595b22d62baaf41701d4aacdf2ede53890edc0efc2dc5dd2",
    "jpeg/q4/color/1x1/rst0/o6" -> "d852a006bc04768a436cc88a2722d3b0355691de66398e38a0142a094e123f09",
    "jpeg/q4/color/1x1/rst3/o1" -> "f6df896b42a5a47c6524274ade5ad8fed3a89ad36f9f9e4c405a42c4bd58cc1d",
    "jpeg/q4/color/1x1/rst3/o6" -> "4b5bf403c778611e345d33fdfa7e8ab6610e3e75ad720c1cc2cc3633bdd152be",
    "jpeg-progressive/q4/color/1x1" -> "a1fc1bff8760756f31dead18eaa338eaf823fe2b533e92ae1f358861a52dd5be",
    "jpeg/q4/color/2x1/rst0/o1" -> "3c7f437b0c21843e64a39570ff6272dfb98dc9d1f931d24c00f196c8e5571352",
    "jpeg/q4/color/2x1/rst0/o6" -> "8ec1604f873859869c2aec45c04551a8ca96656db3dbe5a955a9031228636dac",
    "jpeg/q4/color/2x1/rst3/o1" -> "1414fcb7aa81e0c224b8b8ed1670f953781016715950b037c2c30862069727d6",
    "jpeg/q4/color/2x1/rst3/o6" -> "2a8e27d67b57fb2467365a051333dec883dc22538a55661800065638bb4befe7",
    "jpeg-progressive/q4/color/2x1" -> "6e7a7f8f71dfee8b10c5653605fbd31a0c95da3062e6934d9525cc46d2f2ad40",
    "jpeg/q4/color/1x2/rst0/o1" -> "530330132d4c2c772f283b9add71bef69fa45e08d193587f5b303ed691f3a625",
    "jpeg/q4/color/1x2/rst0/o6" -> "9f3ad57e8414d2b2342fd08cf6a9bb91eab893fbda38702cb9876f9f0edea4fa",
    "jpeg/q4/color/1x2/rst3/o1" -> "51f569620e42b852298c9c1b331d4c1d6d4de3803330aee901e35264d282d6cc",
    "jpeg/q4/color/1x2/rst3/o6" -> "7665abc17fad03755ee41020baa7aec5b26d55235e3879a5f42910457d406d9e",
    "jpeg-progressive/q4/color/1x2" -> "ec299ff64562a346640cb8eebdec3cdf3231712e0e91f9efd5e874d510b45c34",
    "jpeg/q4/color/2x2/rst0/o1" -> "31f20edd91f9c3092f32bc92c4dd580818a46578b50555ba72372faeeecdb9aa",
    "jpeg/q4/color/2x2/rst0/o6" -> "0c1664c549c75f6e44004383ef8f45b9aa2010e7cc1bfa500675c74e100ad71b",
    "jpeg/q4/color/2x2/rst3/o1" -> "b6c6beeee3ba059449ff5a3fdbe8c252a7e8e0d35fd6f5d978f4b8f2a97abfb3",
    "jpeg/q4/color/2x2/rst3/o6" -> "277bf6297cc4f89adf52e4893c466d443375b4435d930c919ee3a0f09e211dd4",
    "jpeg-progressive/q4/color/2x2" -> "d96d4b7dbe8750847981c3bd823a414bef97fae4182b651310e4267b94dc6452",
    "jpeg/q4/gray/1x1/rst0/o1" -> "c590eb51cc73bbe63c09dba88113b9db8b1f6c017a0a1054de4a33ec211a23ae",
    "jpeg/q4/gray/1x1/rst0/o6" -> "1e9c51e9ab0eb41ff06b5d480b87a1852b47280160a0dc03fcb63fea3f4d37e6",
    "jpeg/q4/gray/1x1/rst3/o1" -> "266dc80d9ee179ad2eec29c565d3fee2249db87b99f5a79faf9f32e3000e554b",
    "jpeg/q4/gray/1x1/rst3/o6" -> "e8f08117df7a033fcfd5f85165704799a13cdf060903de3c68d54e4408e1bda2",
    "jpeg-progressive/q4/gray/1x1" -> "f59f7cbb27859ba13c8b66d6948b9e576bbb6c4428acea1c112bc868822f7dc8",
    "wav/pcm16/ch1/junkfalse" -> "5389fc92d787cb87e46f60d4143b4c855d25a095531016014865893f4f89d9ce",
    "wav/pcm8/ch1/junkfalse" -> "8cd0ef6ef58f348f1c8f92d727e01f39a0daef6f0c0ab0703d597111e3e73f33",
    "wav/float/ch1/junkfalse" -> "fb8641905bf4492e8de23cdc7210df3ee5d4eac346e131191a1f3d3bc9c9e0d2",
    "wav/mulaw/ch1/junkfalse" -> "dc1759b191ae41e7611dfd7a6b4bda6afcef3ab895e74a043cb66ab0e934cfe8",
    "wav/alaw/ch1/junkfalse" -> "a941b6a65877a0b4792484b4fae592b2125d60fe17b552cd767fd16385335348",
    "wav/pcm16/ch1/junktrue" -> "30601eacf57aa2d4f448e14ed63a22cd5f81d388d57eb05d04b8ab2ff4d65ea8",
    "wav/pcm8/ch1/junktrue" -> "5bc4bd2305b0b647c93fa8979dbd1a5dc7574ed1c917705a2fb34de6f11eac55",
    "wav/float/ch1/junktrue" -> "56f035a2eb38389bce6594f0dcb602e2b39ac55f70d6f833d7d16e35f051fb73",
    "wav/mulaw/ch1/junktrue" -> "9eebf856dea675176aaf2b9b6aabbb3ea99dfb28e3bc19a00c7dee2cf2060be1",
    "wav/alaw/ch1/junktrue" -> "efa7999c0bbfd569eb3bf8da7c8b05da8d115513a034db0c13b68714161929a8",
    "wav/pcm16/ch2/junkfalse" -> "db4c372830acc13f8224e56ede8000642d87fc45283c80e1a6b0b513e7b1549b",
    "wav/pcm8/ch2/junkfalse" -> "a2ddd0702a9d9dfac2f21797c496fccabff82446b0249a4e06f30e8d513ca156",
    "wav/float/ch2/junkfalse" -> "56d67a91192e7d8701aaa0fbf63f2b67634471a525d2d1a02ba7ee854ea6e16a",
    "wav/mulaw/ch2/junkfalse" -> "cc3b40bc19a5dc470c3370374e28a845bc823e28eadfb3c4a378db7ecb22a10d",
    "wav/alaw/ch2/junkfalse" -> "208706005a173f434c58298718db66c4a01ce3d3514b758bc58af494ad53eba9",
    "wav/pcm16/ch2/junktrue" -> "23af1373cb0a5132b1cd00e07e1221b1999d3db9d78672c8cfdf1c42f9465491",
    "wav/pcm8/ch2/junktrue" -> "78c5044d9e0ecb5a4344268ffdc39728730e8a77ef57d515393daa75a07b83ae",
    "wav/float/ch2/junktrue" -> "bce131dd6991ff6e2d01b67efdb0e082ad447c2b32e8749de682ffab6400a516",
    "wav/mulaw/ch2/junktrue" -> "33d88b166dbee54d2e4eea822aca97634690221d451ca032d516d3c27121ef77",
    "wav/alaw/ch2/junktrue" -> "e99b2f949f276083776d5b7ac8afa237c7678f8ef5e898ce90089839e2f65109",
    "gif/interlacedfalse" -> "1adc84948a0c64caabc0860e970f612273ddd7d62764955bfc96e4f5f1539f7b",
    "gif/interlacedtrue" -> "dd984d4f2492194df21b60e1f0be364e1067c558e2e47f8c2e4a30e12e3affde",
    "gif-animated/loops-1" -> "8f4a8271b51dec67f7951cc42497cce027f147aab06bdffdfcbe185cf6db53b3",
    "gif-animated/loops2" -> "e2073b70c5d189e107dee1cc7f1ba45df4425f7f8625fd1f23677a6394e61552",
    "bmp24/w1/topDownfalse" -> "5b073ec53031b62b7bf25c9a2da7ee4d7ae6315dc396c580e38a60f44a0624ba",
    "bmp24/w1/topDowntrue" -> "9c5e06cef10ff076227fdf5368e93b67517bf9e1c63276c4a33d879dab1eb30e",
    "bmp8/w1" -> "3b518624d118fb32e5c55fe1c346927baefa62e8f89f840559eba9d258aa3adf",
    "bmp24/w2/topDownfalse" -> "0cb15995290be4681d435a1b82077bd64f216da705e7b2ff30cba19f45541220",
    "bmp24/w2/topDowntrue" -> "7d551799f178c181a1e9ed92a28fb3d5a12a7210afd2d59dda342c009fef9330",
    "bmp8/w2" -> "70a7db1b13a747a64addb836c19936d66104b63da1b145dd25917b92b0aafcdf",
    "bmp24/w3/topDownfalse" -> "f1d2efca0a0f111a400fb0479b4c7ee43a0496337be39305a1bb532eba378e0d",
    "bmp24/w3/topDowntrue" -> "225d76bbec05771e78efd2c812a7bc0caa6658d07544d29967166d5ccff4ba0f",
    "bmp8/w3" -> "38d4729d0ccaff299cf49a1d25b34c43f726c651b8aa2d5b65775ec5c8e38104",
    "bmp24/w4/topDownfalse" -> "8b2b39be779fb14b819804059d50a72857a336d9926183e2b7e863c6a0008366",
    "bmp24/w4/topDowntrue" -> "80de0de94e01e288170382e1a663d6d0b5a37e0a08cb39025f8be8324bf956c4",
    "bmp8/w4" -> "95a23b42aebdbb39d0fb94eb5880fb07425cada8f66747c9e2c030b137b0dd04",
    "avi-dib/3x2" -> "ce48d4b55941439f2451e389a4c2c01527118e8347f14241a1084439beae5307",
    "avi-mjpeg/13x9" -> "a38937eb19f5833ac772bb1983dbed0c91371f3b5bdcba4c89b43c9f155356d4",
    "png/rgbafalse/interlacedfalse" -> "795874041352d1e30bfabc0c6e796534cfb1b18725fe901e303a5c05f39834c8",
    "png/rgbatrue/interlacedfalse" -> "33c5c78beeab46de1c59f324e73b37d7b4f71445c466d5b05a4e417c0770d580",
    "png-gray/interlacedfalse" -> "8f56d14246c68bc020f5b265019f62bb4c88ec5a299fd48227ed7e6c0de5844a",
    "png-palette/interlacedfalse" -> "279f4c95ab572408d433a7aae93e64aebf8c5cc43ea031bcd49730105052bb52",
    "png/rgbafalse/interlacedtrue" -> "ec0cd7d2dd28bd81ce930f592359a4beac2ec3f42d98b9e5a989c60e7e5e3310",
    "png/rgbatrue/interlacedtrue" -> "ac2d194f0a8c7cda04c65bc5811c973f8eed14c28708d75188edcdad85031d51",
    "png-gray/interlacedtrue" -> "b87482145a203c5d0cc30a930d65309622e4d9c38026d0a2a4812ccb236b5d38",
    "png-palette/interlacedtrue" -> "d8771364787d7a1caa6d210a712b359c24c738f5f619ed1643d0368a08169e3d",
    "err/jpeg/qscale0" -> "0049811a859f7a38f97962c4eea34cf30f68dd955fb34ce7115b9e1b9905cbb7",
    "err/jpeg/restart" -> "d8290ef59ade74004098919ef03ce56d46708594445bbaf16e6f67af3a69843a",
    "err/jpeg/orientation9" -> "87ed9611f3914d86cab886dd824eff6da2ea8112ca19a1d2d5991d91cefad23a",
    "err/jpeg/luma3" -> "8629c3c182994be36f86137fa7359e889e4a079813661aa3436861435520fa00",
    "err/jpeg/gray-subsampled" -> "c1f1f6925318cf9e9412c2e49e06fb0fa05c206183e5ef13a1e22ad815e0733b",
    "err/jpeg/width0" -> "7bd1201cf0288627f714253b32cdce1be380a1c4a9796f91c0adcc5b03cc32b5",
    "err/jpeg-progressive/qscale16" -> "afb8823fda83afcad0cdb57f9ac8301659f557cffa961fa3441552c7c5d85a48",
    "err/jpeg-progressive/luma0" -> "51fd06d67344f5f777de2ea754e1930bb47e9f5e5b49b5b3c17e33c7f8c4836c",
    "err/jpeg-progressive/gray-subsampled" -> "c1f1f6925318cf9e9412c2e49e06fb0fa05c206183e5ef13a1e22ad815e0733b",
    "err/jpeg-progressive/width0" -> "7bd1201cf0288627f714253b32cdce1be380a1c4a9796f91c0adcc5b03cc32b5",
    "err/wav/pcm16/ch0" -> "b5b52fe6550bedbda369462c450e5892c9cc753695765fda36b925988bef957b",
    "err/wav/pcm8/ch0" -> "b5b52fe6550bedbda369462c450e5892c9cc753695765fda36b925988bef957b",
    "err/wav/float/ch0" -> "b5b52fe6550bedbda369462c450e5892c9cc753695765fda36b925988bef957b",
    "err/wav/mulaw/ch0" -> "b5b52fe6550bedbda369462c450e5892c9cc753695765fda36b925988bef957b",
    "err/wav/alaw/ch0" -> "b5b52fe6550bedbda369462c450e5892c9cc753695765fda36b925988bef957b",
    "err/gif/palette3" -> "c9c5887c3e2c70088d2e3e4050751c34f03f0b6a7170bd24525a96b3d40c089b",
    "err/gif/dims" -> "c904d3ff0da350d79e1d9fd6cffec720852eb8f5e87f22af33c056c357142fdc",
    "err/gif/indices" -> "0bdefdc3f2317240c37469d14b770cef6d5e747b2d3e44792b00cbd73bdf4b01",
    "err/gif/index-range" -> "690b0598d7df0dc824696270eb356c09411a078cc4b8256f4f1639d19869842c",
    "err/gif-animated/palette3" -> "c9c5887c3e2c70088d2e3e4050751c34f03f0b6a7170bd24525a96b3d40c089b",
    "err/gif-animated/no-frames" -> "b8f121b07ae6e090f54ae38f30567827588ef01a4a71dda1377702eb97c32e02",
    "err/gif-animated/loops" -> "bfd890dad0ebf9fc68fd53a90c1e00ca527c971b004426efd04c9ff857bc22c0",
    "err/gif-animated/delay" -> "f61f69dbcff65c995c96a24272bd35d2d51df802a58722b85e2af53694ac33ba",
    "err/bmp8/palette0" -> "96fb07249285da40da4b29e1aad36518a1e7dec5c47c98257998643025fa9b7c",
    "err/bmp8/indices" -> "0d5a65a003e45153ef528a497dd98baf8f072fa32c2150f98d38e052061060b0",
    "err/avi-dib/empty" -> "2d85b9075a532e943e7b4112f2101778a5a540a27c94894d42fde7db36c349ad",
    "err/avi-dib/geometry" -> "e807dcd4da4a850c411246ecea96cac25cc36ba756a52f41dc07791e1cae195f"
  )
}
