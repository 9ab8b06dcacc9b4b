package graft.artifacts

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.ForkFreeLocalFileSystem

/** A standing artifact read back by [[Persisted.load]]: its frames and the
  * scalar build parameters it was saved with. */
final class Persisted private (params: JsonNode, frames: Map[String, DataFrame]) {
  def frame(name: String): DataFrame = frames(name)
  def int(name: String): Int = params.get(name).asInt
  def long(name: String): Long = params.get(name).asLong
  def double(name: String): Double = params.get(name).asDouble
}

/** The one persisted form of a standing artifact: each frame as parquet
  * under `dir/<name>`, and `dir/_manifest.json` holding the kind, the
  * format version, the scalar params and the frame names.
  *
  * The manifest is the completion marker. [[save]] removes it before the
  * first frame write and writes it after the last one, through a temp file
  * and a rename, so a save that dies part-way leaves a directory without a
  * manifest, and [[load]] refuses it instead of reading a mix of old and
  * new frames. */
object Persisted {

  /** Bumped when the layout changes; [[load]] refuses any other. */
  private val Version = 1

  private val ManifestName = "_manifest.json"
  private val mapper = new ObjectMapper()

  /** Write `frames` and their manifest to `dir`.
    *
    *  - `"overwrite"` replaces each named frame.
    *  - `"append"` adds the frames' rows to those already in `dir`, after
    *    checking that the manifest there has this kind, params and frame
    *    names: rows built at other settings would silently relabel the
    *    whole artifact. A mismatch throws before anything is touched.
    *    Appending to an empty or missing `dir` creates the artifact; a
    *    non-empty `dir` without a manifest is refused like a torn one. */
  def save(dir: String, kind: String, params: Map[String, Any] = Map.empty,
           mode: String = "overwrite")(frames: (String, DataFrame)*): Unit = {
    require(mode == "overwrite" || mode == "append",
      s"an artifact is saved with mode overwrite or append, got $mode")
    val spark = frames.headOption.fold(SparkSession.active)(_._2.sparkSession)
    val (fs, root) = open(spark, dir)
    val local = ForkFreeLocalFileSystem.options(root, spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(root, ManifestName)
    val json = mapper.writeValueAsString(Map("kind" -> kind, "version" -> Version,
      "params" -> params.asJava, "frames" -> frames.map(_._1).asJava).asJava)
    if (mode == "append" && fs.exists(root) && fs.listStatus(root).nonEmpty) {
      val standing = read(fs, manifest, dir, kind)
      if (standing != mapper.readTree(json))
        throw new IllegalArgumentException(
          s"cannot append to $dir: it holds $standing, this batch would save $json")
    }
    fs.delete(manifest, false)
    frames.foreach { case (name, df) => df.write.mode(mode).options(local).parquet(s"$dir/$name") }
    val tmp = new Path(root, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(s"could not commit $manifest")
  }

  /** Read the `kind` artifact at `dir`. Throws when `dir` has no manifest
    * (nothing was saved there, or the save did not finish), when the
    * manifest names another kind, or when it has another format version. */
  def load(spark: SparkSession, dir: String, kind: String): Persisted = {
    val (fs, root) = open(spark, dir)
    val m = read(fs, new Path(root, ManifestName), dir, kind)
    val frames = m.get("frames").elements().asScala.map(_.asText)
      .map(name => name -> graft.sources.Sources.parquet(spark, s"$dir/$name")).toMap
    new Persisted(m.get("params"), frames)
  }

  /** A local `dir` goes through [[ForkFreeLocalFileSystem]], here and in
    * the frame writes; other schemes get Hadoop's own file system. */
  private def open(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val root = new Path(dir)
    (ForkFreeLocalFileSystem.get(root, spark.sparkContext.hadoopConfiguration), root)
  }

  private def read(fs: FileSystem, manifest: Path, dir: String, kind: String): JsonNode = {
    if (!fs.exists(manifest))
      throw new IllegalStateException(s"$dir has no $ManifestName: no $kind " +
        "was saved there, or its save did not finish")
    val in = fs.open(manifest)
    val m = try mapper.readTree(in) finally in.close()
    val (found, version) = (m.path("kind").asText, m.path("version").asInt)
    if (found != kind)
      throw new IllegalStateException(s"$dir holds a '$found' artifact, not a '$kind'")
    if (version != Version)
      throw new IllegalStateException(s"$dir has artifact format version " +
        s"$version; this build reads version $Version")
    m
  }
}
