package graft.core

import java.io.FileReader

import scala.jdk.CollectionConverters._

/** One floorplan dump spec.
  *
  * Reference: a floorplan is a YAML list of `{prefix, query, chunksize?}`
  * maps (`floorplan.example.yaml:1-7`); `chunksize` defaults to 1000 and
  * `0` means "whole result in one file"
  * (`src/floorist/floorist.py:194`, `README.md:39`).
  *
  * EXTENSION (a strict superset of the reference format): an optional
  * `partition_column` + `partition_lower` + `partition_upper` +
  * `partitions` block asks the JDBC mode to read the dump in N parallel
  * range-partitioned scans. The reference CANNOT parallelize a dump at
  * all without losing its one-transaction consistency; here every
  * partition connection joins the dump attempt's pinned exported
  * snapshot ([[graft.sources.SnapshotJdbcSource]]), so the parallel dump
  * keeps the exact same one-snapshot semantics — the engine's headline
  * advantage over the reference, now reachable from the floorplan.
  * Parquet-lake mode ignores the block (Spark parallelizes those scans
  * by file splits already).
  *
  * @param chunksize None = unset (default 1000 applies); Some(0) = single file.
  * @param partitioning (column, lowerBound, upperBound, numPartitions)
  *                     for the parallel JDBC read.
  */
final case class FloorplanRow(prefix: String, query: String, chunksize: Option[Int],
                              partitioning: Option[(String, Long, Long, Int)] = None) {
  /** Rows per output file, `None` = one single file (floorist's `0` case). */
  def rowsPerFile: Option[Int] = chunksize match {
    case Some(0) => None
    case Some(n) => Some(n)
    case None    => Some(FloorplanRow.DefaultChunksize)
  }
}

object FloorplanRow {
  val DefaultChunksize = 1000
}

/** Raised when a floorplan row lacks a required key — the reference fails
  * that dump (KeyError caught at `src/floorist/floorist.py:191-197`) but
  * keeps running later dumps, so callers catch this per row. */
final case class InvalidFloorplanRow(missingKey: String)
  extends RuntimeException(s"floorplan row is missing required key '$missingKey'")

/** YAML floorplan loader (reference `yaml.safe_load`,
  * `src/floorist/floorist.py:279-292`). Driver-side only — the floorplan is
  * tiny control metadata, never distributed. */
object FloorplanParser {

  def parseFile(path: String): Seq[Map[String, Any]] = {
    val reader = new FileReader(path)
    try parseYaml(reader) finally reader.close()
  }

  def parseString(yaml: String): Seq[Map[String, Any]] =
    parseYaml(yaml)

  private def parseYaml(src: Any): Seq[Map[String, Any]] = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val loaded = src match {
      case r: java.io.Reader => yaml.load[java.util.List[java.util.Map[String, Object]]](r)
      case s: String         => yaml.load[java.util.List[java.util.Map[String, Object]]](s)
      case other             => sys.error(s"unsupported source ${other.getClass}")
    }
    if (loaded == null) Seq.empty
    else loaded.asScala.toSeq.map(m => m.asScala.toMap.map { case (k, v) => (k, v: Any) })
  }

  /** Convert one raw YAML map to a [[FloorplanRow]], enforcing required keys
    * exactly like the reference (missing `prefix`/`query` fails the dump).
    * Null values (`prefix:` with no value), unparseable chunksizes, and a
    * `chunksize` outside [0, Int.MaxValue] or `partitions` outside
    * [1, Int.MaxValue] are treated as invalid too — they must fail THIS
    * dump, not escape as NPE/NumberFormatException and kill the whole run,
    * nor wrap into another value. */
  def toRow(raw: Map[String, Any]): FloorplanRow = {
    def required(key: String): String = raw.get(key) match {
      case Some(v) if v != null => v.toString
      case _                    => throw InvalidFloorplanRow(key)
    }
    val prefix = required("prefix")
    val query = required("query")
    def longValue(key: String, v: Any): Long =
      try v match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long    => l.longValue
        case other                => other.toString.trim.toLong
      } catch {
        case _: NumberFormatException => throw InvalidFloorplanRow(key)
      }
    def longKey(key: String): Long = raw.get(key) match {
      case Some(v) if v != null => longValue(key, v)
      case _ => throw InvalidFloorplanRow(key)
    }
    // YAML integers past Int range load as Long: narrowing would wrap
    // (2^32 + 1 → 1), and a negative chunksize would read as "no limit".
    def intIn(key: String, n: Long, lo: Long): Int =
      if (n < lo || n > Int.MaxValue) throw InvalidFloorplanRow(key) else n.toInt
    val chunksize = raw.get("chunksize").filter(_ != null)
      .map(v => intIn("chunksize", longValue("chunksize", v), 0))
    // The parallel-read extension block: all-or-nothing — a column with
    // no bounds (or bounds with no column) is a spec error for THIS dump,
    // failing it like any other invalid row while later dumps keep going.
    val partitioning = raw.get("partition_column").filter(_ != null).map { c =>
      val n = intIn("partitions", longKey("partitions"), 1)
      (c.toString, longKey("partition_lower"), longKey("partition_upper"), n)
    }
    if (partitioning.isEmpty &&
        Seq("partition_lower", "partition_upper", "partitions")
          .exists(k => raw.get(k).exists(_ != null)))
      throw InvalidFloorplanRow("partition_column")
    FloorplanRow(prefix, query, chunksize, partitioning)
  }
}
