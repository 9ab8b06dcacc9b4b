package graft.perfbench

import java.io.File

import scala.sys.process._

import org.apache.spark.sql.SparkSession

import graft.core.{DumpExecutor, JdbcConfig}
import graft.sources.SnapshotJdbcSource
import graft.sources.pgwire.PgWireSocket

/** A throwaway PostgreSQL server in `root` (a directory the caller created
  * and deletes): `initdb` with trust auth, fsync off, listening on
  * 127.0.0.1 only. Postgres refuses to run as root, so as root every server
  * command runs as the `postgres` user through `su`. */
final class PgServer(root: File, maxConnections: Int) {
  val host = "127.0.0.1"
  val user = "graft"
  val database = "bench"
  private val data = new File(root, "data")
  private val isRoot = System.getProperty("user.name") == "root"
  private var started = false
  val port: Int = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }

  private val binDir: Option[String] =
    sys.env.getOrElse("PATH", "").split(File.pathSeparator)
      .find(d => new File(d, "initdb").canExecute && new File(d, "pg_ctl").canExecute)

  private def sh(cmd: String): (Int, String) = {
    val full =
      if (isRoot) Seq("su", "-s", "/bin/sh", "postgres", "-c", s"cd ${root.getAbsolutePath} && $cmd")
      else Seq("sh", "-c", cmd)
    val out = new StringBuilder
    val code = Process(full, root).!(ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n')))
    (code, out.toString)
  }

  /** Why this host cannot run the server, if it cannot. */
  def unavailable: Option[String] =
    if (binDir.isEmpty) Some("no initdb/pg_ctl on PATH")
    else if (isRoot && sh("true")._1 != 0) Some("cannot su to the postgres user")
    else None

  def start(): Unit = {
    val bin = binDir.get
    if (isRoot) require(Seq("chown", "-R", "postgres:postgres", root.getAbsolutePath).! == 0,
      s"cannot chown $root to postgres")
    val (ic, io) = sh(s"$bin/initdb -D ${data.getAbsolutePath} --auth=trust -U $user -E UTF8")
    require(ic == 0, s"initdb failed: ${io.takeRight(400)}")
    val opts = s"-p $port -k ${root.getAbsolutePath} -c listen_addresses=$host " +
      s"-c fsync=off -c synchronous_commit=off -c max_connections=$maxConnections"
    started = true
    val (sc, so) = sh(s"""$bin/pg_ctl -D ${data.getAbsolutePath} -w -t 60 """ +
      s"""-l ${new File(root, "server.log").getAbsolutePath} -o "$opts" start""")
    require(sc == 0, s"pg_ctl start failed: ${so.takeRight(400)}")
    sql("postgres", s"CREATE DATABASE $database")
  }

  def sql(db: String, statements: String): Unit = {
    val s = new PgWireSocket(host, port, user, db, None)
    try s.query(statements) finally s.close()
  }

  def stop(): Unit = if (started) {
    sh(s"${binDir.get}/pg_ctl -D ${data.getAbsolutePath} -m immediate -w stop")
    sh(s"rm -rf ${data.getAbsolutePath}")
    started = false
  }

  def jdbc: JdbcConfig = JdbcConfig(host, port, database, user, "")
}

/** Live-Postgres mode, the reference's production mode: seeded tables shaped
  * like `hosts`, `policies` and `policy_hosts`, dumped through the pinned
  * snapshot scope and the wire driver, serially and with three partitions. */
final class DumpPg(cfg: Config) extends DumpWorkload(cfg) {
  val Hosts = 100000
  val Policies = 1000
  val PolicyHosts = 300000

  private val root = cfg.pgRoot
  private var server: PgServer = null

  protected val specs: Seq[DumpSpec] = Seq(
    DumpSpec("hosts", "SELECT id, n, account, display_name, created FROM hosts", None),
    DumpSpec("policies", "SELECT DISTINCT id, name, created FROM policies", None),
    DumpSpec("policy_hosts", "SELECT n, host_id, policy_id FROM policy_hosts", None),
    DumpSpec("policy_hosts_par3", "SELECT n, host_id, policy_id FROM policy_hosts", None,
      partitioning = Some(("n", 1L, PolicyHosts.toLong + 1, 3))))

  /** Seeded contents, generated inside the server. */
  private def loadSql: String = {
    val s = cfg.seed
    // setseed takes a value in [-1, 1].
    val unit = ((s % 2000003L) - 1000001L) / 1000002.0
    s"""SELECT setseed($unit);
       |CREATE TABLE hosts (id uuid PRIMARY KEY, n int NOT NULL, account text,
       |  display_name text, created timestamp);
       |INSERT INTO hosts SELECT md5('$s-h-' || i)::uuid, i,
       |  'acct' || (random() * 5000)::int, 'host-' || md5(random()::text),
       |  timestamp '2024-01-01' + random() * interval '365 days'
       |  FROM generate_series(1, $Hosts) i;
       |CREATE TABLE policies (id uuid PRIMARY KEY, n int NOT NULL, name text, created timestamp);
       |INSERT INTO policies SELECT md5('$s-p-' || i)::uuid, i, 'policy ' || md5(random()::text),
       |  timestamp '2024-01-01' + random() * interval '365 days'
       |  FROM generate_series(1, $Policies) i;
       |CREATE TABLE policy_hosts (n int PRIMARY KEY, host_id uuid NOT NULL, policy_id uuid NOT NULL);
       |INSERT INTO policy_hosts SELECT i,
       |  md5('$s-h-' || (1 + floor(random() * $Hosts))::int)::uuid,
       |  md5('$s-p-' || (1 + floor(random() * $Policies))::int)::uuid
       |  FROM generate_series(1, $PolicyHosts) i;
       |ANALYZE""".stripMargin
  }

  def prepare(spark: SparkSession): Unit = {
    server = new PgServer(root, maxConnections = cfg.cores + 6)
    server.unavailable.foreach(why => throw new Skip(why))
    val t0 = Clock.now()
    server.start()
    val t1 = Clock.now()
    server.sql(server.database, loadSql)
    detail("pg.start_s") = t1 - t0
    detail("pg.load_s") = Clock.now() - t1
  }

  protected def expectedRows(spark: SparkSession, spec: DumpSpec): Long = spec.name match {
    case "hosts"    => Hosts
    case "policies" => Policies
    case _          => PolicyHosts
  }

  /** The deployment's own scope (pin a snapshot per attempt, read every
    * partition under it); the span up to the body's start is the pin. */
  protected def attemptScope(spark: SparkSession, tracer: Tracer): DumpExecutor.AttemptScope = {
    val pinned = SnapshotJdbcSource.dumpAttemptScope(spark, server.jdbc)
    (row, body) => {
      val t0 = Clock.now()
      pinned(row, run => {
        tracer.record("sources.pin", "sources", t0, Clock.now())
        body(sql => tracer.span("sources.read", "sources")(run(sql)))
      })
    }
  }

  protected def scan(spark: SparkSession, spec: DumpSpec): Unit =
    SnapshotJdbcSource.withPinnedSnapshot(server.jdbc.url, Map("user" -> server.user, "password" -> "")) { snap =>
      noop(SnapshotJdbcSource.readPinned(spark, server.jdbc, spec.query, snap,
        partitioning = spec.partitioning))
    }

  def release(): Unit = if (server != null) { server.stop(); server = null }
}

/** The workload cannot run on this host; reported as skipped, not failed. */
final class Skip(val reason: String) extends RuntimeException(reason)
