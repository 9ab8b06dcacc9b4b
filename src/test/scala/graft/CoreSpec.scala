package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sources.SqlTranslate

class FloorplanParserSpec extends AnyFunSuite {
  test("parses prefix/query/chunksize rows") {
    val rows = FloorplanParser.parseString(
      """- prefix: dumps/people
        |  query: SELECT 1
        |  chunksize: 13
        |- prefix: dumps/cities
        |  query: SELECT 2
        |""".stripMargin)
    assert(rows.size == 2)
    val r0 = FloorplanParser.toRow(rows.head)
    assert(r0 == FloorplanRow("dumps/people", "SELECT 1", Some(13)))
    assert(FloorplanParser.toRow(rows(1)).chunksize.isEmpty)
  }

  test("partition block parses all-or-nothing (the parallel-dump extension)") {
    val full = FloorplanParser.toRow(Map(
      "prefix" -> "p", "query" -> "q", "partition_column" -> "account",
      "partition_lower" -> 0, "partition_upper" -> 7, "partitions" -> 3))
    assert(full.partitioning.contains(("account", 0L, 7L, 3)))
    // reference-format rows stay untouched
    assert(FloorplanParser.toRow(Map("prefix" -> "p", "query" -> "q"))
      .partitioning.isEmpty)
    // a column with no bounds fails THIS dump, like any invalid row
    intercept[InvalidFloorplanRow](FloorplanParser.toRow(Map(
      "prefix" -> "p", "query" -> "q", "partition_column" -> "account")))
    // bounds with no column likewise
    intercept[InvalidFloorplanRow](FloorplanParser.toRow(Map(
      "prefix" -> "p", "query" -> "q", "partitions" -> 3)))
    // a non-positive partition count likewise
    intercept[InvalidFloorplanRow](FloorplanParser.toRow(Map(
      "prefix" -> "p", "query" -> "q", "partition_column" -> "account",
      "partition_lower" -> 0, "partition_upper" -> 7, "partitions" -> 0)))
  }

  test("default chunksize is 1000; zero means single file") {
    assert(FloorplanRow("p", "q", None).rowsPerFile.contains(1000))
    assert(FloorplanRow("p", "q", Some(0)).rowsPerFile.isEmpty)
    assert(FloorplanRow("p", "q", Some(13)).rowsPerFile.contains(13))
  }

  test("missing required keys raise InvalidFloorplanRow") {
    val noQuery = intercept[InvalidFloorplanRow](
      FloorplanParser.toRow(Map("prefix" -> "p")))
    assert(noQuery.missingKey == "query")
    val noPrefix = intercept[InvalidFloorplanRow](
      FloorplanParser.toRow(Map("query" -> "SELECT 1")))
    assert(noPrefix.missingKey == "prefix")
  }

  test("null values and garbage chunksizes are invalid rows, not crashes") {
    // `prefix:` with no value parses to null — must fail THIS dump only.
    val nullPrefix = intercept[InvalidFloorplanRow](
      FloorplanParser.toRow(Map("prefix" -> null, "query" -> "SELECT 1")))
    assert(nullPrefix.missingKey == "prefix")
    val badChunk = intercept[InvalidFloorplanRow](
      FloorplanParser.toRow(Map("prefix" -> "p", "query" -> "q", "chunksize" -> "abc")))
    assert(badChunk.missingKey == "chunksize")
    // null chunksize = unset (default applies)
    assert(FloorplanParser.toRow(
      Map("prefix" -> "p", "query" -> "q", "chunksize" -> null)).chunksize.isEmpty)
  }

  // SnakeYAML loads integers past Int range as Long; 2^32 + 1 narrowed to
  // Int is 1, and a negative maxRecordsPerFile means "no limit".
  private def yamlRow(extra: String) = FloorplanParser.toRow(FloorplanParser.parseString(
    "- prefix: p\n  query: q\n" + extra).head)

  test("a chunksize past Int range fails the row instead of wrapping") {
    assert(intercept[InvalidFloorplanRow](yamlRow("  chunksize: 4294967297\n"))
      .missingKey == "chunksize")
    assert(yamlRow(s"  chunksize: ${Int.MaxValue}\n").chunksize.contains(Int.MaxValue))
  }

  test("a negative chunksize fails the row instead of lifting the file limit") {
    assert(intercept[InvalidFloorplanRow](yamlRow("  chunksize: -1\n"))
      .missingKey == "chunksize")
  }

  test("a partition count past Int range fails the row instead of wrapping") {
    assert(intercept[InvalidFloorplanRow](yamlRow(
      "  partition_column: a\n  partition_lower: 0\n  partition_upper: 7\n" +
        "  partitions: 4294967297\n")).missingKey == "partitions")
  }

  test("empty floorplan yields no rows") {
    assert(FloorplanParser.parseString("").isEmpty)
  }
}

class RetryPolicySpec extends AnyFunSuite {
  import RetryPolicy._

  test("classifier truth table (reference substrings)") {
    assert(isRetryable(new RuntimeException("pg SerializationFailure during txn")))
    assert(isRetryable(new RuntimeException("canceling statement due to conflict with recovery")))
    assert(isRetryable(new RuntimeException("PendingRollbackError: rollback pending")))
    assert(isRetryable(new RuntimeException("invalid transaction state")))
    assert(!isRetryable(new RuntimeException("syntax error at or near FROM")))
    assert(!isRetryable(new RuntimeException("connection refused")))
  }

  test("retryable text buried in a cause chain is still classified RETRY") {
    val inner = new RuntimeException("canceling statement due to conflict with recovery")
    val wrapped = new RuntimeException("Exception thrown in awaitResult:",
      new RuntimeException("mid layer", inner))
    assert(isRetryable(wrapped))
    assert(!isRetryable(new RuntimeException("outer", new RuntimeException("plain"))))
  }

  test("evaluate: retry then exhausted at maxRetries-1") {
    val ex = new RuntimeException("SerializationFailure")
    assert(evaluate(ex, 0) == Retry)
    assert(evaluate(ex, 1) == Retry)
    assert(evaluate(ex, 2) == Exhausted)
    assert(evaluate(new RuntimeException("boom"), 0) == Failure)
  }

  test("backoff doubles: 5s, 10s, 20s") {
    assert(backoffSeconds(0) == 5)
    assert(backoffSeconds(1) == 10)
    assert(backoffSeconds(2) == 20)
  }
}

class EngineConfigSpec extends AnyFunSuite {
  private def baseEnv(floorplan: String) = Map(
    "AWS_BUCKET" -> "file:///tmp/graft-out",
    "FLOORPLAN_FILE" -> floorplan)

  private def withFloorplanFile(f: String => Unit): Unit = {
    val file = SparkSpecBase.tmpFile("floorplan", ".yaml")
    java.nio.file.Files.writeString(file, "- prefix: p\n  query: SELECT 1\n")
    f(file.toString)
  }

  test("missing AWS_BUCKET fails fast") {
    withFloorplanFile { fp =>
      val e = intercept[ConfigError](EngineConfig.fromEnv(Map("FLOORPLAN_FILE" -> fp)))
      assert(e.getMessage.contains("AWS_BUCKET"))
    }
  }

  test("missing floorplan file fails fast") {
    val e = intercept[ConfigError](
      EngineConfig.fromEnv(baseEnv("/nonexistent/floorplan.yaml")))
    assert(e.getMessage.contains("floorplan"))
  }

  test("endpoint scheme defaulting") {
    assert(EngineConfig.withScheme("minio:9000") == "https://minio:9000")
    assert(EngineConfig.withScheme("http://minio:9000") == "http://minio:9000")
    withFloorplanFile { fp =>
      val c = EngineConfig.fromEnv(baseEnv(fp) + ("AWS_ENDPOINT" -> "minio:9000"))
      assert(c.endpoint.contains("https://minio:9000"))
      assert(EngineConfig.hadoopS3aSettings(c)("fs.s3a.path.style.access") == "true")
    }
  }

  test("jdbc config resolves when POSTGRES_SERVICE_HOST present") {
    withFloorplanFile { fp =>
      val c = EngineConfig.fromEnv(baseEnv(fp) ++ Map(
        "POSTGRES_SERVICE_HOST" -> "db", "POSTGRESQL_DATABASE" -> "d",
        "POSTGRESQL_USER" -> "u", "POSTGRESQL_PASSWORD" -> "pw"))
      assert(c.jdbc.map(_.url).contains("jdbc:postgresql://db:5432/d"))
    }
  }

  test("a non-numeric POSTGRES_SERVICE_PORT fails fast as a config error naming the variable") {
    withFloorplanFile { fp =>
      val e = intercept[ConfigError](EngineConfig.fromEnv(baseEnv(fp) ++ Map(
        "POSTGRES_SERVICE_HOST" -> "db", "POSTGRES_SERVICE_PORT" -> "tcp://10.0.0.1:5432",
        "POSTGRESQL_DATABASE" -> "d", "POSTGRESQL_USER" -> "u",
        "POSTGRESQL_PASSWORD" -> "pw")))
      assert(e.getMessage.contains("POSTGRES_SERVICE_PORT"))
    }
  }

  test("Clowder config (ACG_CONFIG) overrides env DB settings") {
    val acg = SparkSpecBase.tmpFile("acg", ".json")
    java.nio.file.Files.writeString(acg,
      """{"database": {"hostname": "clowder-db", "port": 5433,
        |  "name": "cdb", "username": "cu", "password": "cpw"}}""".stripMargin)
    withFloorplanFile { fp =>
      val c = EngineConfig.fromEnv(baseEnv(fp) ++ Map(
        "ACG_CONFIG" -> acg.toString,
        // Plain env settings present but must lose to Clowder:
        "POSTGRES_SERVICE_HOST" -> "env-db", "POSTGRESQL_DATABASE" -> "d",
        "POSTGRESQL_USER" -> "u", "POSTGRESQL_PASSWORD" -> "pw"))
      assert(c.jdbc.map(_.url).contains("jdbc:postgresql://clowder-db:5433/cdb"))
      assert(c.jdbc.map(_.user).contains("cu"))
    }
  }

  test("Clowder config without a database section fails fast") {
    val acg = SparkSpecBase.tmpFile("acg", ".json")
    java.nio.file.Files.writeString(acg, """{"kafka": {}}""")
    withFloorplanFile { fp =>
      val e = intercept[ConfigError](
        EngineConfig.fromEnv(baseEnv(fp) + ("ACG_CONFIG" -> acg.toString)))
      assert(e.getMessage.contains("database"))
    }
    val e2 = intercept[ConfigError](EngineConfig.clowderJdbc("/nonexistent/acg.json"))
    assert(e2.getMessage.contains("ACG_CONFIG"))
  }

  test("LOGLEVEL maps python names to spark levels and rejects junk") {
    assert(EngineConfig.sparkLogLevel("warning") == "WARN")
    assert(EngineConfig.sparkLogLevel("CRITICAL") == "FATAL")
    assert(EngineConfig.sparkLogLevel("debug") == "DEBUG")
    intercept[ConfigError](EngineConfig.sparkLogLevel("LOUD"))
    withFloorplanFile { fp =>
      assert(EngineConfig.fromEnv(baseEnv(fp) + ("LOGLEVEL" -> "warning"))
        .logLevel.contains("WARN"))
      assert(EngineConfig.fromEnv(baseEnv(fp)).logLevel.isEmpty)
    }
  }

  test("file contract defaults to Scalable; GRAFT_FILE_CONTRACT=exact pins Exact") {
    withFloorplanFile { fp =>
      assert(EngineConfig.fromEnv(baseEnv(fp)).fileContract ==
        graft.sink.FileContract.Scalable)
      assert(EngineConfig.fromEnv(baseEnv(fp) + ("GRAFT_FILE_CONTRACT" -> "Exact"))
        .fileContract == graft.sink.FileContract.Exact)
    }
  }
}

class GraftPostgresDialectSpec extends AnyFunSuite {
  import graft.sources.GraftPostgresDialect
  import org.apache.spark.sql.types.{MetadataBuilder, StringType}

  test("handles postgres urls only") {
    assert(GraftPostgresDialect.canHandle("jdbc:postgresql://db:5432/x"))
    assert(!GraftPostgresDialect.canHandle("jdbc:mysql://db/x"))
  }

  test("uuid and friends map to StringType; standard types pass through") {
    def catalyst(tn: String) = GraftPostgresDialect.getCatalystType(
      java.sql.Types.OTHER, tn, 0, new MetadataBuilder)
    assert(catalyst("uuid").contains(StringType))
    assert(catalyst("jsonb").contains(StringType))
    assert(catalyst("inet").contains(StringType))
    assert(GraftPostgresDialect.getCatalystType(
      java.sql.Types.INTEGER, "int4", 0, new MetadataBuilder).isEmpty)
  }

  test("registration is idempotent and the resolved dialect strings uuid") {
    GraftPostgresDialect.register()
    GraftPostgresDialect.register()
    // Spark may wrap registered dialects; assert the behavioral contract:
    // whatever dialect resolves for postgres URLs must map uuid -> string.
    val resolved = org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:postgresql://h/d")
    val mapped = resolved.getCatalystType(
      java.sql.Types.OTHER, "uuid", 0, new MetadataBuilder)
    assert(mapped.contains(StringType))
  }
}

class SqlTranslateSpec extends AnyFunSuite {
  import SqlTranslate.translate

  test("uuid_generate_v1 -> uuid") {
    assert(translate("SELECT * FROM (VALUES (uuid_generate_v1(), 'one')) AS t(num, letter)")
      .contains("uuid()"))
  }

  test("GENERATE_SERIES as FROM-item with alias-as-column") {
    val got = translate("SELECT x, y FROM GENERATE_SERIES(0,999) as x JOIN GENERATE_SERIES(0,999) as y ON 1=1")
    assert(got == "SELECT x, y FROM (SELECT explode(sequence(0, 999)) AS x) AS x " +
      "JOIN (SELECT explode(sequence(0, 999)) AS y) AS y ON 1=1")
  }

  test("bare SELECT GENERATE_SERIES") {
    assert(translate("SELECT GENERATE_SERIES(0,999)") ==
      "SELECT explode(sequence(0, 999)) AS generate_series")
  }

  test("zero-column empty select gains a column") {
    assert(translate("SELECT WHERE 1=0") == "SELECT NULL AS empty WHERE 1=0")
  }

  test("clause keywords after an unaliased series are not eaten as aliases") {
    for (clause <- Seq("WHERE n > 1", "FETCH FIRST 2 ROWS ONLY",
                       "WINDOW w AS (ORDER BY 1)", "FOR UPDATE")) {
      val kw = clause.split(" ").head
      val got = translate(s"SELECT * FROM GENERATE_SERIES(1,5) $clause")
      assert(!got.matches(s"(?s).*AS $kw\\b.*"),
        s"'$kw' must not become an alias: $got")
      assert(got.endsWith(clause), got)
    }
  }

  test("VALUES containing uuid() is rewritten to UNION ALL (wrapped form)") {
    val got = translate(
      "SELECT * FROM (VALUES (uuid_generate_v1(), 'one'), (uuid_generate_v1(), 'two')) AS t(num, letter)")
    assert(got == "SELECT * FROM (SELECT uuid() AS num, 'one' AS letter " +
      "UNION ALL SELECT uuid(), 'two') AS t")
  }

  test("VALUES containing uuid() is rewritten (bare form)") {
    val got = translate(
      "SELECT * FROM VALUES (uuid_generate_v1(), 'x') AS t(num, letter)")
    assert(got == "SELECT * FROM (SELECT uuid() AS num, 'x' AS letter) AS t")
  }

  test("foldable VALUES stays a native inline table") {
    val sql = "SELECT * FROM VALUES (1, 'one'), (2, 'two') AS t(num, letter)"
    assert(translate(sql) == sql)
  }

  test("double-quoted identifiers become backticks") {
    assert(translate("""SELECT DISTINCT "policies"."id" FROM "policies"""") ==
      "SELECT DISTINCT `policies`.`id` FROM `policies`")
  }

  test("double quotes inside string literals are left untouched") {
    val sql = """SELECT 'he said "ok"' AS msg, "col" FROM "t""""
    assert(translate(sql) == """SELECT 'he said "ok"' AS msg, `col` FROM `t`""")
  }

  test("an already-aliased series keeps its alias") {
    assert(translate("SELECT GENERATE_SERIES(1,3) AS id") ==
      "SELECT explode(sequence(1, 3)) AS id")
  }

  test("unaliased FROM-series before a clause keyword: keyword is NOT the alias") {
    assert(translate("SELECT * FROM GENERATE_SERIES(1,9) WHERE generate_series > 2") ==
      "SELECT * FROM (SELECT explode(sequence(1, 9)) AS generate_series) " +
        "AS generate_series WHERE generate_series > 2")
  }

  test("unaliased FROM-series gets the postgres default name") {
    assert(translate("SELECT generate_series FROM GENERATE_SERIES(1,3)") ==
      "SELECT generate_series FROM (SELECT explode(sequence(1, 3)) " +
        "AS generate_series) AS generate_series")
  }
}
