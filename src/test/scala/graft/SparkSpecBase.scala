package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites in the forked test JVM. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def tmpDir(prefix: String): String = SparkSpecBase.tmpDir(prefix)
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every temp directory and file the specs create, deleted in one place
    * when the test JVM exits: the shared session outlives each suite, so
    * a per-suite cleanup could delete a directory a later read still
    * plans against. */
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))))

  private def track(p: Path): Path = { created.add(p); p }

  /** A fresh directory under java.io.tmpdir, deleted at JVM exit. */
  def tmpDir(prefix: String): String = track(Files.createTempDirectory(prefix)).toString

  /** A fresh empty file under java.io.tmpdir, deleted at JVM exit. */
  def tmpFile(prefix: String, suffix: String): Path = track(Files.createTempFile(prefix, suffix))
}
