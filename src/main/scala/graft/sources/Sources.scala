package graft.sources

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.artifacts.ArtifactStore

/** Table registry over the driver's parquet testdata (TESTDATA.md).
  *
  * Registers each `<dir>/<table>.parquet` as a temp view so the engine's
  * floorplan SQL (reference: opaque SQL strings shipped to Postgres,
  * `src/floorist/floorist.py:142`) runs natively on Spark via `spark.sql`.
  *
  * Scale notes: a temp view over a parquet path is just a logical plan —
  * Catalyst prunes columns and pushes filters into the scan. Registration
  * runs no Spark job: [[parquet]] lists the path once and reads the one
  * footer Spark's schema inference would read, on the driver, and hands
  * the schema to the reader (Spark's own inference starts a job per path
  * for that one footer). The plan is memoized in
  * [[graft.artifacts.ArtifactStore]] as kind `source_table`, keyed on the
  * directory, so a session reads each table's footer once, as a catalog
  * would. A session that rewrites a table in place calls
  * `ArtifactStore.invalidate(session, dir)` to drop the old listing.
  */
object Sources {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table as a DataFrame (no view registration).
    *
    * Timestamp columns have shipped in three physical encodings across
    * testdata generations: INT64 TIMESTAMP(NANOS) (Spark rejects by
    * default — ILLEGAL_PARQUET_TYPE), plain `timestamp[us]` without UTC
    * adjustment (Spark infers TIMESTAMP_NTZ), and native microsecond
    * TimestampType. All three normalize to TimestampType here — for EVERY
    * column of EVERY table, keyed on the inspected physical type, not on a
    * hardcoded (table, column) — so a driver-side re-encoding of any table
    * is absorbed (or fails loudly), never a silent multi-query outage
    * (round 7 lost all ten event queries to exactly that). The session is
    * never left mutated: the legacy-nanos conf is set only when a footer
    * actually carries TIMESTAMP(NANOS) and is restored after the read
    * (see [[readWithLegacyNanos]]). Sub-microsecond truncation on the
    * nanos path is invisible to every query (all bucket to >= 1s
    * granularity or never emit the raw timestamp).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    // A missing table throws inside the build, so only tables that exist
    // are memoized: one created later in the session stays visible.
    ArtifactStore.get("source_table", spark, dir, Seq(name))(load(spark, dir, name))

  private val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Columns whose parquet physical type is an UN-annotated INT64 but
    * whose table contract says "epoch nanoseconds" (one historical
    * testdata generation shipped `events.ts` that way). A bare INT64 is
    * otherwise just a long — only a declared contract can justify
    * reinterpreting it, so this map is the ONLY table-specific knowledge
    * in the loader; annotated NANOS / NTZ / native timestamps normalize
    * type-driven on any table. */
  private val RawInt64NanosCols: Map[String, Set[String]] =
    Map("events" -> Set("ts"))

  /** Serializes table loads against [[readWithLegacyNanos]]'s scoped conf
    * window: SparkSessions are thread-safe, and a PLAIN read racing the
    * window would silently succeed on a nanos-annotated file (conf
    * momentarily true) WITHOUT taking the footer-confirmed conversion
    * path — raw longs where timestamps belong, the exact outage class
    * the scoped conf exists to close. First loads are rare (memoized per
    * session/dir/table), so the serialization costs nothing steady-state. */
  private val loadLock = new Object

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = loadLock.synchronized {
    val path = s"$dir/$name.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
      throw new java.io.FileNotFoundException(path)
    val footer = inferenceFooter(spark, path)
    val raw =
      try parquet(spark, path, footer)
      catch {
        // ILLEGAL_PARQUET_TYPE on TIMESTAMP(NANOS): take the legacy
        // read path, but only after the footer CONFIRMS a nanos column
        // (any other analysis failure rethrows untouched).
        case e: org.apache.spark.sql.AnalysisException =>
          val nanosCols = footer.fold(Set.empty[String])(nanosAnnotatedColumns)
          if (nanosCols.isEmpty) throw e
          readWithLegacyNanos(spark, path, footer.get, nanosCols)
      }
    normalizeTimestamps(spark, raw, name)
  }

  /** `spark.read.parquet(path)` without Spark's schema-inference job: the
    * schema comes from the footer [[inferenceFooter]] picks, read on the
    * driver and converted by Spark's own footer conversion under the
    * session's conf, so it equals what Spark would infer. With
    * `spark.sql.parquet.mergeSchema` on, or nothing to read, the read is
    * Spark's own: a merge reads every footer, which Spark spreads over
    * executors, and a path without a data file fails with Spark's
    * "unable to infer schema" error. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    parquet(spark, path, inferenceFooter(spark, path))

  private def parquet(spark: SparkSession, path: String, footer: Option[Footer]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    footer match {
      case Some(f) if !conf.isParquetSchemaMergingEnabled =>
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          f, new ParquetToSparkSchemaConverter(conf))).parquet(path)
      case _ => spark.read.parquet(path)
    }
  }

  /** The footer of the file Spark's non-merging schema inference reads for
    * `path`: `_common_metadata`, else `_metadata`, else the first data
    * file by path, among the leaves of one recursive listing that skips
    * what Spark's file index skips (names that start with `.`, or with `_`
    * and hold no `=`, other than the two summary files; in-flight
    * `._COPYING_` files). `None` when the path is missing or holds no
    * such file. */
  private def inferenceFooter(spark: SparkSession, path: String): Option[Footer] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val summaries = Seq("_common_metadata", "_metadata")
    def hidden(name: String): Boolean =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) && !summaries.exists(name.startsWith)
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    def leaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    val files =
      try leaves(root).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val chosen = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    chosen.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hconf),
        HadoopReadOptions.builder(hconf, f.getPath).withMetadataFilter(SKIP_ROW_GROUPS).build())
      try new Footer(f.getPath, reader.getFooter) finally reader.close()
    }
  }

  /** Column names in `footer`'s schema annotated TIMESTAMP(unit=NANOS)
    * (the testdata writer emits a uniform schema across part files). */
  private def nanosAnnotatedColumns(footer: Footer): Set[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    footer.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.collect {
      case field if field.isPrimitive &&
        (field.asPrimitiveType().getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }) => field.getName
    }.toSet
  }

  /** Read a TIMESTAMP(NANOS) parquet under a SCOPED legacy conf: set
    * `nanosAsLong`, read, convert ns→us, materialize, restore. The
    * materialization (localCheckpoint, eager) is what makes the restore
    * safe — the vectorized reader re-resolves the conf at physical
    * planning, so a lazy plan would fail once the conf reverts. Priced
    * accordingly: this branch eagerly reads the table once. It is a
    * compat shim for one historical testdata encoding, never the scale
    * path (the current writer emits micros); at 100 TB the fix is
    * re-encoding the data, not this shim.
    */
  private def readWithLegacyNanos(spark: SparkSession, path: String,
                                  footer: Footer, nanosCols: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption(NanosAsLongKey)
    try {
      spark.conf.set(NanosAsLongKey, "true")
      val raw = parquet(spark, path, Some(footer)) // nanos columns arrive as raw longs
      val cols = raw.schema.fields.map { f =>
        if (nanosCols(f.name)) timestamp_micros(expr(s"`${f.name}` div 1000")).as(f.name)
        else col(f.name)
      }
      raw.select(cols.toSeq: _*).localCheckpoint()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(NanosAsLongKey, v)
        case None => spark.conf.unset(NanosAsLongKey)
      }
    }
  }

  /** Normalize every timestamp-bearing column of `df` to TimestampType.
    * Type-driven over all columns: TIMESTAMP_NTZ casts (value-preserving
    * only under a UTC session — asserted where consumed, per the loader
    * contract every entry point pins `spark.sql.session.timeZone=UTC`);
    * declared raw-INT64 nanos columns convert with a PLAUSIBILITY GUARD
    * (a lazy `raise_error`, zero extra jobs): if the contract is stale —
    * say a future generation ships un-annotated micros — values land
    * outside [1990, 2100) after ns→us and the first query fails loudly
    * instead of silently reading times divided by 1000. A declared
    * timestamp column with any other physical type fails the load
    * itself. */
  private def normalizeTimestamps(spark: SparkSession, df: DataFrame,
                                  name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val declared = RawInt64NanosCols.getOrElse(name, Set.empty)
    def requireUtc(colName: String): Unit = {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC" || tz == "Etc/UTC",
        s"$name.$colName: TIMESTAMP_NTZ normalization requires a UTC session " +
          s"timezone (got $tz) — the NTZ→TimestampType cast re-interprets " +
          "wall-clock values in the session zone")
    }
    // Epoch-micros plausibility window for the declared-nanos contract:
    // [1990-01-01, 2100-01-01) UTC.
    val loUs = 631152000000000L
    val hiUs = 4102444800000000L
    var changed = false
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampNTZType =>
          requireUtc(f.name); changed = true
          col(f.name).cast(TimestampType).as(f.name)
        case LongType if declared(f.name) =>
          changed = true
          val us = expr(s"`${f.name}` div 1000")
          when(col(f.name).isNull, lit(null).cast(TimestampType))
            .when(us.between(lit(loUs), lit(hiUs - 1)), timestamp_micros(us))
            .otherwise(raise_error(concat(
              lit(s"$name.${f.name}: raw INT64 value "), col(f.name).cast("string"),
              lit(" is implausible as epoch nanoseconds — re-encoded testdata?")))
              .cast(TimestampType))
            .as(f.name)
        case _ if declared(f.name) && f.dataType != TimestampType =>
          throw new IllegalStateException(
            s"$name.${f.name}: unsupported physical type ${f.dataType}")
        case _ => col(f.name)
      }
    }
    if (changed) df.select(cols.toSeq: _*) else df
  }

  /** Register every testdata table that exists under `dir` as a temp view. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { t =>
      try table(spark, dir, t).createOrReplaceTempView(t)
      catch { case _: java.io.FileNotFoundException => () }
    }

  /** Read a non-parquet lake file. `schema` is REQUIRED for csv/json:
    * schema inference runs a full extra pass over the data (at 100 TB, a
    * second 100 TB scan) and silently widens types; an explicit schema
    * makes the read single-pass and deterministic. ORC/parquet carry their
    * own schema. CSV reads are header-aware and `PERMISSIVE` with a
    * `_corrupt_record` column only when the caller's schema declares one —
    * malformed rows otherwise become nulls, never a job abort (same
    * isolation contract as the floorplan scan).
    */
  def readFormat(spark: SparkSession, path: String, format: String,
                 schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    format.toLowerCase match {
      case "parquet" => parquet(spark, path)
      case "orc" => spark.read.orc(path)
      case "csv" =>
        val s = schema.getOrElse(throw new IllegalArgumentException(
          "csv needs an explicit schema (inference = extra full-data pass)"))
        spark.read.schema(s).option("header", "true").option("mode", "PERMISSIVE").csv(path)
      case "json" =>
        val s = schema.getOrElse(throw new IllegalArgumentException(
          "json needs an explicit schema (inference = extra full-data pass)"))
        spark.read.schema(s).option("mode", "PERMISSIVE").json(path)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
}
