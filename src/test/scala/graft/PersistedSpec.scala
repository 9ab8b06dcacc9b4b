package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, udf}

import graft.operators.Dedup

/** The persisted form of standing artifacts (`graft.artifacts.Persisted`):
  * the manifest marks a complete save, names the kind, and pins the build
  * settings an append must match. */
class PersistedSpec extends SparkSpecBase {

  private def shingles(seed: String): Seq[String] = (1 to 24).map(i => s"${seed}_tok$i")

  private def text(seed: String): String = (1 to 14).map(i => s"$seed$i").mkString(" ")

  private def files(dir: String): Set[String] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(dir).relativize(p).toString).toSet

  test("a save that dies between two frame writes leaves a directory load refuses") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("torn")
    val a = Dedup.buildMinHashIndex(Seq((1L, shingles("a"))).toDF("doc_id", "sh"),
      "doc_id", "sh", persist = false)
    val b0 = Dedup.buildMinHashIndex(Seq((2L, shingles("b"))).toDF("doc_id", "sh"),
      "doc_id", "sh", persist = false)
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("storage went away")
      id
    }
    // bands write fine; the job writing signatures fails part-way
    val b = b0.copy(signatures = b0.signatures.withColumn("doc_id", boom(col("doc_id"))))
    def refused(): Unit = {
      val e = intercept[IllegalStateException](Dedup.loadMinHashIndex(spark, dir, "doc_id"))
      assert(e.getMessage.contains("_manifest.json"), e.getMessage)
    }

    a.save(dir)
    assert(Dedup.loadMinHashIndex(spark, dir, "doc_id").signatures.count() == 1)
    intercept[Exception](b.save(dir))
    refused()

    a.save(dir)
    intercept[Exception](b.save(dir, mode = "append"))
    refused()
  }

  test("loading a directory whose manifest names another kind throws") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, text("c")), (2L, text("d"))).toDF("doc_id", "text")
    val dir = tmpDir("foreign")
    Dedup.buildLineSetIndex(docs, "doc_id", "text", lineTokens = 2, persist = false).save(dir)
    val gram = Dedup.buildGramIndex(docs, "doc_id", "text", k = 10, maxGramDocs = 7,
      persist = false)
    gram.save(dir)
    val e = intercept[IllegalStateException](Dedup.loadLineSetIndex(spark, dir))
    assert(e.getMessage.contains("gram_index") && e.getMessage.contains("line_set_index"),
      e.getMessage)
    assert(Dedup.loadGramIndex(spark, dir, "doc_id").k == 10)
  }

  test("a manifest of an unknown format version is refused") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("version")
    Dedup.buildLineSetIndex(Seq((1L, text("c"))).toDF("doc_id", "text"), "doc_id", "text",
      lineTokens = 2, persist = false).save(dir)
    val manifest = Paths.get(dir, "_manifest.json")
    val json = new String(Files.readAllBytes(manifest), "UTF-8")
    assert(json.contains("\"version\":1"), json)
    Files.write(manifest, json.replace("\"version\":1", "\"version\":99").getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(dir, "._manifest.json.crc")) // the local FS checksum
    val e = intercept[IllegalStateException](Dedup.loadLineSetIndex(spark, dir))
    assert(e.getMessage.contains("version 99"), e.getMessage)
  }

  test("an append built at other settings throws and leaves the index untouched") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, text("c")), (2L, text("d"))).toDF("doc_id", "text")
    val batch = Seq((3L, text("e"))).toDF("doc_id", "text")

    def refusedAppend(dir: String)(append: => Unit): Unit = {
      val before = files(dir)
      val e = intercept[IllegalArgumentException](append)
      assert(e.getMessage.contains("cannot append"), e.getMessage)
      assert(files(dir) == before, "a refused append changed the directory")
    }

    // appending into a missing directory creates the artifact
    val gDir = tmpDir("gram-append") + "/idx"
    Dedup.buildGramIndex(corpus, "doc_id", "text", k = 3, maxGramDocs = 8,
      persist = false).save(gDir, "append")
    val grams = Dedup.loadGramIndex(spark, gDir, "doc_id").grams.count()
    refusedAppend(gDir) {
      Dedup.buildGramIndex(batch, "doc_id", "text", k = 4, maxGramDocs = 8,
        persist = false).save(gDir, "append")
    }
    val g = Dedup.loadGramIndex(spark, gDir, "doc_id")
    assert(g.k == 3 && g.maxGramDocs == 8 && g.grams.count() == grams)

    val lDir = tmpDir("lineset-append")
    Dedup.buildLineSetIndex(corpus, "doc_id", "text", lineTokens = 2, persist = false)
      .save(lDir)
    refusedAppend(lDir) {
      Dedup.buildLineSetIndex(batch, "doc_id", "text", lineTokens = 3, persist = false)
        .save(lDir, "append")
    }
    assert(Dedup.loadLineSetIndex(spark, lDir).lineTokens == 2)

    val vecs = Seq((1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f, 0f))).toDF("vec_id", "v")
    val vDir = tmpDir("lshvec-append")
    Dedup.buildLshVecIndex(vecs, "vec_id", "v", bits = 4, tables = 2, persist = false)
      .save(vDir)
    refusedAppend(vDir) {
      Dedup.buildLshVecIndex(vecs, "vec_id", "v", bits = 6, tables = 2, persist = false)
        .save(vDir, "append")
    }
    val v = Dedup.loadLshVecIndex(spark, vDir, "vec_id", "v")
    assert(v.bits == 4 && v.tables == 2 && v.vectors.count() == 2)
  }

  test("only graft.artifacts writes manifests, and operators keep no meta tables") {
    val root = Paths.get("src/main/scala")
    def sources(p: java.nio.file.Path): Seq[(String, String)] =
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), "UTF-8"))
        .toSeq
    val manifests = sources(root).collect { case (f, src) if src.contains("_manifest.json") => f }
    assert(manifests.nonEmpty && manifests.forall(_.startsWith("graft/artifacts/")),
      s"manifest handling outside graft.artifacts: $manifests")
    val metaPath = """(/|_)meta"""".r
    val handRolled = sources(root.resolve("graft/operators")).collect {
      case (f, src) if src.contains("read.parquet(s\"$dir/") ||
        metaPath.findFirstIn(src).isDefined => f
    }
    assert(handRolled.isEmpty,
      s"persist standing artifacts through graft.artifacts.Persisted: $handRolled")
  }
}
