package graft

import java.nio.file.Files

import graft.core.{EngineConfig, Floorista}

/** End-to-end floorist-surface tests: floorplan YAML in, partitioned gzip
  * parquet out, with the reference's exit-code and fixture semantics
  * (tests/test_floorist.py behavioral invariants on local FS). */
class FlooristaSpec extends SparkSpecBase {

  private def run(floorplanYaml: String, extraEnv: Map[String, String] = Map.empty)
      : (Int, String) = {
    val root = tmpDir("floorista")
    val fp = SparkSpecBase.tmpFile("floorplan", ".yaml")
    Files.writeString(fp, floorplanYaml)
    val config = EngineConfig.fromEnv(Map(
      "AWS_BUCKET" -> s"file://$root",
      "FLOORPLAN_FILE" -> fp.toString) ++ extraEnv)
    val code = new Floorista(spark, config).run()
    (code, root)
  }

  private def filesUnder(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    if (!root.exists()) Seq.empty else walk(root).map(_.getPath)
  }

  /** The engine stamps paths with ITS OWN LocalDate.now(); a test running
    * across midnight would compute a different date. Locate the dated leaf
    * dir that was actually written instead of recomputing the clock. */
  private def datedLeaf(prefixDir: String): java.io.File = {
    def descend(f: java.io.File): java.io.File =
      f.listFiles().filter(_.isDirectory).toSeq match {
        case Seq(one) if one.getName.contains("_created=") => descend(one)
        case _ => f
      }
    val leaf = descend(new java.io.File(prefixDir))
    assert(leaf.getPath.matches(""".*year_created=\d{4}/month_created=\d{1,2}/day_created=\d{1,2}"""),
      s"not a dated leaf: $leaf")
    // Unpadded month/day (reference %-m/%-d): no zero-padded components.
    assert(!leaf.getPath.matches(""".*_created=0\d.*"""), s"zero-padded: $leaf")
    leaf
  }

  test("multiple dumps succeed -> exit 0, dated layout, readable parquet") {
    val (code, root) = run(
      """- prefix: dumps/numbers
        |  query: SELECT * FROM VALUES (1, 'one'), (2, 'two'), (3, 'three') AS t(num, letter)
        |- prefix: dumps/cities
        |  query: SELECT * FROM VALUES (1, 'Boston'), (2, 'Raleigh') AS t(num, name)
        |""".stripMargin)
    assert(code == 0)
    val numbers = filesUnder(s"$root/dumps/numbers")
    assert(numbers.nonEmpty)
    // Reading the prefix root surfaces the Hive partition columns...
    val back = spark.read.parquet(s"$root/dumps/numbers")
    assert(back.count() == 3)
    assert(back.columns.sorted.toSeq ==
      Seq("day_created", "letter", "month_created", "num", "year_created"))
    // ...while the dated leaf holds just the query's own schema.
    val leaf = spark.read.parquet(datedLeaf(s"$root/dumps/numbers").getPath)
    assert(leaf.columns.sorted.toSeq == Seq("letter", "num"))
  }

  test("one failing dump -> exit 1 but other dumps still written") {
    val (code, root) = run(
      """- prefix: dumps/good
        |  query: SELECT * FROM VALUES (1, 'one') AS t(num, letter)
        |- prefix: dumps/bad
        |  query: this is not sql
        |""".stripMargin)
    assert(code == 1)
    assert(filesUnder(s"$root/dumps/good").nonEmpty)
  }

  test("postgres-isms are translated: series, cross join, uuid, empty") {
    val (code, root) = run(
      """- prefix: dumps/series
        |  query: SELECT GENERATE_SERIES(0,99)
        |  chunksize: 13
        |- prefix: dumps/cross
        |  query: SELECT x, y FROM GENERATE_SERIES(0,9) as x JOIN GENERATE_SERIES(0,9) as y ON 1=1
        |- prefix: dumps/uuids
        |  query: SELECT * FROM VALUES (uuid_generate_v1(), 'one'), (uuid_generate_v1(), 'two') AS t(num, letter)
        |- prefix: dumps/empty
        |  query: SELECT WHERE 1=0
        |""".stripMargin,
      // The default contract is Scalable (parallel multi-file writes); the
      // reference's exact file-per-chunk count is opt-in for parity tests.
      extraEnv = Map("GRAFT_FILE_CONTRACT" -> "exact"))
    assert(code == 0)
    // chunksize 13 over 100 rows -> exactly 8 files (Exact contract pinned)
    assert(filesUnder(s"$root/dumps/series").count(_.endsWith(".parquet")) == 8)
    assert(spark.read.parquet(s"$root/dumps/cross").count() == 100)
    val uuids = spark.read.parquet(s"$root/dumps/uuids")
    assert(uuids.count() == 2)
    assert(uuids.schema("num").dataType.typeName == "string")
    // empty result -> dated folder marker exists, no files inside
    val marker = datedLeaf(s"$root/dumps/empty")
    assert(marker.isDirectory)
    assert(filesUnder(s"$root/dumps/empty").isEmpty)
  }

  test("parquet-lake mode: floorplan SQL over registered testdata tables") {
    val (code, root) = run(
      """- prefix: dumps/revenue
        |  query: SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem GROUP BY l_returnflag
        |- prefix: dumps/top_customers
        |  query: SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= 10
        |  chunksize: 7
        |""".stripMargin,
      extraEnv = Map("GRAFT_TABLE_DIR" -> "/root/testdata/sf0.001"))
    assert(code == 0)
    val revenue = spark.read.parquet(datedLeaf(s"$root/dumps/revenue").getPath)
    assert(revenue.count() == 3) // A/N/R return flags
    assert(revenue.columns.sorted.toSeq == Seq("l_returnflag", "revenue"))
    assert(spark.read.parquet(s"$root/dumps/top_customers").count() > 0)
  }

  test("production path e2e: translated floorplan SQL over the lake, Scalable sink") {
    // The full deployment shape in one test: GRAFT_TABLE_DIR registers the
    // parquet lake, the floorplan SQL carries Postgres-isms (quoted
    // identifiers, uuid_generate_v1) that SqlTranslate rewrites, and the
    // DEFAULT Scalable contract writes the dated partitioned layout.
    val lake = "/root/testdata/sf0.001"
    val (code, root) = run(
      """- prefix: dumps/lang_census
        |  query: SELECT "lang", count(*) AS n_docs FROM documents GROUP BY "lang"
        |- prefix: dumps/doc_tags
        |  query: SELECT uuid_generate_v1() AS tag, doc_id FROM documents WHERE doc_id < 40
        |  chunksize: 16
        |""".stripMargin,
      extraEnv = Map("GRAFT_TABLE_DIR" -> lake))
    assert(code == 0)

    // Layout: dated Hive leaf with UNPADDED month/day (datedLeaf asserts),
    // readable as a partitioned dataset from the prefix root.
    val census = spark.read.parquet(datedLeaf(s"$root/dumps/lang_census").getPath)
    // Row counts match the lake queried directly.
    val expected = spark.read.parquet(s"$lake/documents.parquet")
      .groupBy("lang").count().count()
    assert(census.count() == expected && expected > 0)
    assert(census.columns.sorted.toSeq == Seq("lang", "n_docs"))

    val tags = spark.read.parquet(s"$root/dumps/doc_tags")
    assert(tags.count() == 40)
    assert(tags.schema("tag").dataType.typeName == "string") // uuid → string
    // Scalable contract: parallel multi-file writes, but every file still
    // honors the chunksize ceiling.
    val leaf = datedLeaf(s"$root/dumps/doc_tags")
    val parts = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(f => assert(spark.read.parquet(f.getPath).count() <= 16))
  }

  test("p10 corpus build dumps through Floorista into the product layout") {
    // The composed pipeline's product shape: the corpus-build frame is the
    // floorplan's query target and the dump flows through the same
    // Floorista -> PartitionedParquetSink path as every reference dump —
    // dated partitioned layout, chunked gzip parquet, append semantics.
    val lake = "/root/testdata/sf0.001"
    graft.queries.PipelineShared.corpusBuild(spark, lake)
      .createOrReplaceTempView("corpus_build")
    val (code, root) = run(
      """- prefix: corpora/main
        |  query: SELECT * FROM corpus_build
        |  chunksize: 100
        |""".stripMargin,
      extraEnv = Map("GRAFT_TABLE_DIR" -> lake))
    assert(code == 0)

    val leaf = datedLeaf(s"$root/corpora/main")
    val parts = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(f => assert(spark.read.parquet(f.getPath).count() <= 100,
      s"chunksize ceiling violated by ${f.getName}"))

    // Read-back equality against the frame that was dumped.
    val expected = graft.queries.PipelineShared.corpusBuild(spark, lake)
      .collect().map(_.toSeq).toSet
    val back = spark.read.parquet(leaf.getPath)
      .select("doc_id", "lang", "n_tokens", "pack_id", "bucket", "split")
      .collect().map(_.toSeq).toSet
    assert(back == expected, "dumped corpus differs from the built corpus")
    assert(expected.nonEmpty)
  }

  test("unreachable output root aborts before any dump -> exit 1, nothing written") {
    // Reference parity: S3Client.verify() raises in Floorist.__init__
    // (floorist.py:81-92,263-265) — no dump may run against a bad root.
    val fp = SparkSpecBase.tmpFile("floorplan", ".yaml")
    Files.writeString(fp,
      """- prefix: dumps/never
        |  query: SELECT * FROM VALUES (1, 'one') AS t(num, letter)
        |""".stripMargin)
    val root = s"/nonexistent-graft-root/${java.util.UUID.randomUUID()}"
    val config = EngineConfig.fromEnv(Map(
      "AWS_BUCKET" -> s"file://$root",
      "FLOORPLAN_FILE" -> fp.toString))
    val code = new Floorista(spark, config).run()
    assert(code == 1)
    assert(!new java.io.File(root).exists(), "no dump output may be created")
  }

  test("chunked dump under the Scalable default still bounds rows per file") {
    val (code, root) = run(
      """- prefix: dumps/scalable
        |  query: SELECT GENERATE_SERIES(0,99)
        |  chunksize: 13
        |""".stripMargin)
    assert(code == 0)
    val leaf = datedLeaf(s"$root/dumps/scalable")
    assert(spark.read.parquet(leaf.getPath).count() == 100)
    // Every file respects maxRecordsPerFile even though the count contract
    // is relaxed for parallelism.
    leaf.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 13)
    }
  }

  test("missing floorplan keys fail that dump only -> exit 1") {
    val (code, root) = run(
      """- prefix: dumps/ok
        |  query: SELECT * FROM VALUES (1, 'one') AS t(num, letter)
        |- prefix: dumps/noquery
        |""".stripMargin)
    assert(code == 1)
    assert(filesUnder(s"$root/dumps/ok").nonEmpty)
  }
}
