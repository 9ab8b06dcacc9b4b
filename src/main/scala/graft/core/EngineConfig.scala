package graft.core

/** Engine configuration resolved from environment variables, mirroring the
  * reference's matrix (`src/floorist/config.py:25-105`):
  *
  *  - `AWS_BUCKET` → output root; here any Hadoop-compatible URI works
  *    (`file:///...` for tests, `s3a://bucket` on a cluster).
  *  - `AWS_ENDPOINT` gets `https://` prefixed when the scheme is missing
  *    (`config.py:43-48`).
  *  - `FLOORPLAN_FILE` must exist and be readable.
  *  - Postgres settings are optional here: when absent the engine runs in
  *    parquet-view mode (driver testdata); when present the JDBC source is
  *    used. The reference hard-requires them because Postgres is its only
  *    source.
  *
  * Validation failures throw [[ConfigError]] before any I/O (fail-fast, as
  * the reference does).
  */
final case class ConfigError(message: String) extends RuntimeException(message)

final case class JdbcConfig(host: String, port: Int, database: String,
                            user: String, password: String) {
  def url: String = s"jdbc:postgresql://$host:$port/$database"
}

final case class EngineConfig(
    bucketUrl: String,
    endpoint: Option[String],
    region: Option[String],
    accessKeyId: Option[String],
    secretAccessKey: Option[String],
    floorplanFile: String,
    jdbc: Option[JdbcConfig],
    /** `GRAFT_TABLE_DIR`: a parquet-lake directory whose tables are
      * registered as views before dumps run, so floorplan SQL can query
      * them like the reference queries its Postgres tables. */
    tableDir: Option[String] = None,
    /** `GRAFT_FILE_CONTRACT`: `Scalable` (default — parallel multi-file
      * writes, the 100 TB path) or `exact` for the reference's
      * file-per-chunk count contract. */
    fileContract: graft.sink.FileContract = graft.sink.FileContract.Scalable,
    /** `LOGLEVEL` mapped to a Spark log level (`floorist.py:295-297`
      * analogue); None leaves the log4j default untouched. */
    logLevel: Option[String] = None)

object EngineConfig {

  def fromEnv(env: Map[String, String] = sys.env): EngineConfig = {
    def required(key: String): String =
      env.get(key).filter(_.nonEmpty)
        .getOrElse(throw ConfigError(s"$key environment variable is not set"))

    val bucket = required("AWS_BUCKET")
    val endpoint = env.get("AWS_ENDPOINT").filter(_.nonEmpty).map(withScheme)
    val floorplan = required("FLOORPLAN_FILE")
    val f = new java.io.File(floorplan)
    if (!f.exists() || !f.canRead)
      throw ConfigError(s"floorplan file '$floorplan' does not exist or is not readable")

    // Clowder takes precedence over plain env for DB settings, matching the
    // reference's `isClowderEnabled()` branch (`config.py:59-69`; the
    // platform sets ACG_CONFIG to the mounted JSON path).
    val jdbc = env.get("ACG_CONFIG").filter(_.nonEmpty) match {
      case Some(path) => Some(clowderJdbc(path))
      case None =>
        env.get("POSTGRES_SERVICE_HOST").filter(_.nonEmpty).map { host =>
          JdbcConfig(
            host = host,
            port = env.get("POSTGRES_SERVICE_PORT").fold(5432)(p =>
              p.trim.toIntOption.getOrElse(throw ConfigError(
                s"POSTGRES_SERVICE_PORT '$p' is not a number"))),
            database = required("POSTGRESQL_DATABASE"),
            user = required("POSTGRESQL_USER"),
            password = required("POSTGRESQL_PASSWORD"))
        }
    }

    val contract =
      if (env.get("GRAFT_FILE_CONTRACT").exists(_.equalsIgnoreCase("exact")))
        graft.sink.FileContract.Exact
      else graft.sink.FileContract.Scalable

    EngineConfig(
      bucketUrl = bucket,
      endpoint = endpoint,
      region = env.get("AWS_REGION").filter(_.nonEmpty),
      accessKeyId = env.get("AWS_ACCESS_KEY_ID").filter(_.nonEmpty),
      secretAccessKey = env.get("AWS_SECRET_ACCESS_KEY").filter(_.nonEmpty),
      floorplanFile = floorplan,
      jdbc = jdbc,
      tableDir = env.get("GRAFT_TABLE_DIR").filter(_.nonEmpty),
      fileContract = contract,
      logLevel = env.get("LOGLEVEL").filter(_.nonEmpty).map(sparkLogLevel))
  }

  /** Parse the Clowder app-config JSON's `database` section into JDBC
    * settings (the shape `app_common_python.LoadedConfig.database` exposes:
    * hostname/port/name/username/password). Malformed or database-less
    * config is a startup error, like every other invalid config. */
  private[graft] def clowderJdbc(path: String): JdbcConfig = {
    val f = new java.io.File(path)
    if (!f.exists() || !f.canRead)
      throw ConfigError(s"ACG_CONFIG file '$path' does not exist or is not readable")
    import org.json4s._
    val json =
      try org.json4s.jackson.JsonMethods.parse(f)
      catch {
        case scala.util.control.NonFatal(e) =>
          throw ConfigError(s"ACG_CONFIG file '$path' is not valid JSON: ${e.getMessage}")
      }
    def str(field: String): String = json \ "database" \ field match {
      case JString(s) if s.nonEmpty => s
      case _ => throw ConfigError(s"ACG_CONFIG database.$field is not set")
    }
    val port = json \ "database" \ "port" match {
      case JInt(p) => p.toInt
      case JString(p) =>
        try p.trim.toInt
        catch {
          case _: NumberFormatException =>
            throw ConfigError(s"ACG_CONFIG database.port '$p' is not a number")
        }
      case _ => 5432
    }
    JdbcConfig(host = str("hostname"), port = port, database = str("name"),
      user = str("username"), password = str("password"))
  }

  /** Python logging level names → Spark/log4j level names. Unknown names
    * fail fast like the reference's logging.basicConfig would. */
  private[graft] def sparkLogLevel(level: String): String =
    level.toUpperCase match {
      case "WARNING"  => "WARN"
      case "CRITICAL" => "FATAL"
      case l @ ("ALL" | "TRACE" | "DEBUG" | "INFO" | "WARN" | "ERROR" | "FATAL" | "OFF") => l
      case other => throw ConfigError(s"LOGLEVEL '$other' is not a known log level")
    }

  /** `minio:9000` → `https://minio:9000`, matching `config.py:43-48`. */
  def withScheme(endpoint: String): String =
    if (endpoint.contains("://")) endpoint else s"https://$endpoint"

  /** Hadoop S3A settings for the resolved config (path-style access for
    * minio-like endpoints, per `tests/env.yaml.example:1`). No-op for
    * `file://` targets. */
  def hadoopS3aSettings(c: EngineConfig): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    c.endpoint.foreach(e => b += "fs.s3a.endpoint" -> e)
    c.accessKeyId.foreach(k => b += "fs.s3a.access.key" -> k)
    c.secretAccessKey.foreach(k => b += "fs.s3a.secret.key" -> k)
    c.region.foreach(r => b += "fs.s3a.endpoint.region" -> r)
    if (c.endpoint.isDefined) b += "fs.s3a.path.style.access" -> "true"
    b.result()
  }
}
