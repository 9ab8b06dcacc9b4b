package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line settings passed in by `run.py`. */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: File, work: File, out: File, expected: File,
                        pgRoot: File, record: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** One measured operation: a dump row or a query. */
final case class Op(name: String, family: String, latency: Double, rows: Long,
                    ok: Boolean, error: String = "")

/** A workload is set up several times (each in a fresh Spark session), then
  * measured in passes over its operations, then checked. */
trait Workload {
  /** Set-up after session start: register sources, start and load servers. */
  def prepare(spark: SparkSession): Unit
  /** One pass over every operation, in the seeded order. */
  def pass(spark: SparkSession, tracer: Tracer): Seq[Op]
  /** Correctness of the pass just run, outside every timed region: returns
    * the names of operations whose output is wrong, and leaves the outputs
    * cleared for the next pass. */
  def check(spark: SparkSession, ops: Seq[Op]): Seq[String]
  /** Output counts of the pass last checked (files and bytes of a dump). */
  def passNumbers: Map[String, Double]
  /** Workload-specific numbers for the traced run (after the traced pass). */
  def layerNumbers(spark: SparkSession, traced: Seq[Op]): Map[String, Double]
  /** Stop what `prepare` started, for a session about to be stopped. */
  def release(): Unit
  def setupDetail: Map[String, Double]
}

object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Files.createDirectories(cfg.work.toPath)
    val workload: Workload = cfg.workload match {
      case "dump_lake"   => new DumpLake(cfg)
      case "dump_pg"     => new DumpPg(cfg)
      case "query_suite" => new QuerySuite(cfg, sample = None)
      case "query_sample" => new QuerySuite(cfg, sample = Some(QuerySuite.Sample))
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out =
      try run(cfg, workload)
      catch { case s: Skip => Map("workload" -> cfg.workload, "skipped" -> s.reason) }
      finally workload.release()
    Files.write(cfg.out.toPath, Json.write(out).getBytes(StandardCharsets.UTF_8))
  }

  def session(cfg: Config): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(cfg.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(cfg.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.quietBoundedWindowWarning()
    spark
  }

  private val began = Clock.now()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${Clock.now() - began}%.1f s: $name")

  private def run(cfg: Config, w: Workload): Map[String, Any] = {
    // Set-up, several times in fresh sessions: session start and sources.
    // The first session also runs the cold warm-up pass (JIT; its check
    // computes expected counts or digests). The last one runs an untimed
    // first pass, whose artifact builds, timed by BuildTimer in a warm JVM,
    // the caller adds to set-up.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to SetupRepeats) {
      if (spark != null) { w.release(); spark.stop() }
      val t0 = Clock.now()
      spark = session(cfg)
      w.prepare(spark)
      setups += Clock.now() - t0
      if (k == 1) {
        val warm = w.pass(spark, new Tracer(false))
        val bad = warm.filterNot(_.ok)
        if (bad.nonEmpty)
          System.err.println(s"[perfbench] warm-up failures: ${bad.map(o => s"${o.name}: ${o.error}").mkString("; ")}")
        w.check(spark, warm)
        phase("cold warm-up done")
      }
    }
    w.check(spark, w.pass(spark, new Tracer(false)))
    phase("set-up and warm pass done")
    // Memory of set-up plus the warm-up passes: taken here, the high-water
    // mark does not depend on how many passes fit the measured time.
    val rss = peakRssMb()

    // Measured passes, tracing off, until the run's time is spent; the
    // checks between passes are not counted. At least two, so that a slow
    // first pass (the JIT is still at work) never stands alone.
    val passes = ArrayBuffer.empty[(Double, Seq[Op], Map[String, Double])]
    var last = 0.0
    do {
      val t0 = Clock.now()
      val ops = w.pass(spark, new Tracer(false))
      last = Clock.now() - t0
      val wrong = w.check(spark, ops).toSet
      passes += ((last, ops.map(o => if (wrong(o.name)) o.copy(ok = false, error = "wrong output") else o),
        w.passNumbers))
    } while (passes.size < 2 || passes.map(_._1).sum + last <= cfg.seconds)
    phase(s"${passes.size} measured passes done")

    val result = Map[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "setup_s" -> setups.toSeq, "setup_detail" -> w.setupDetail,
      "passes" -> passes.toSeq.map { case (wall, ops, counts) =>
        Map("wall_s" -> wall, "ops" -> ops.map(opJson), "counts" -> counts) })
    val traced = if (cfg.trace) tracedPass(cfg, w, spark) else Map.empty[String, Any]
    spark.stop()
    phase("stopped")
    result ++ traced + ("peak_rss_mb" -> rss)
  }

  /** One more pass with spans and listeners on; the difference to the
    * untraced passes is the tracing overhead. */
  private def tracedPass(cfg: Config, w: Workload, spark: SparkSession): Map[String, Any] = {
    val counters = new SparkCounters
    val tracer = new Tracer(true)
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val t0 = Clock.now()
    val ops = w.pass(spark, tracer)
    val wall = Clock.now() - t0
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    val wrong = w.check(spark, ops).toSet
    val layer = w.layerNumbers(spark, ops)
    Map("traced" -> Map(
      "wall_s" -> wall,
      "ops" -> ops.map(o => opJson(if (wrong(o.name)) o.copy(ok = false, error = "wrong output") else o)),
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "op" -> s.op, "start" -> s.start, "end" -> s.end)),
      "jobs" -> counters.jobs.toSeq.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> (if (j.end.isNaN) j.start else j.end), "execution" -> j.execution, "stages" -> j.stages, "tasks" -> j.tasks)),
      "spark" -> Map("stages" -> counters.stages, "tasks" -> counters.tasks,
        "task_s" -> counters.taskRunMs / 1e3, "gc_s" -> counters.gcMs / 1e3,
        "shuffle_mb" -> counters.shuffleWriteBytes / 1e6, "spill_mb" -> counters.spillBytes / 1e6,
        "plan_s" -> counters.planNs / 1e9),
      "layer" -> layer))
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("name" -> o.name, "family" -> o.family, "latency_s" -> o.latency, "rows" -> o.rows,
      "ok" -> o.ok, "error" -> o.error)

  /** The JVM's resident-set high-water mark. */
  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Times `body` as one operation; a thrown error fails the operation. */
  def timeOp(name: String, family: String, rows: Long)(body: => Boolean): Op = {
    val t0 = Clock.now()
    try {
      val ok = body
      Op(name, family, Clock.now() - t0, rows, ok, if (ok) "" else "reported failure")
    } catch {
      case scala.util.control.NonFatal(e) =>
        Op(name, family, Clock.now() - t0, rows, ok = false, e.toString.take(300))
    }
  }

  private def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("data")), new File(need("work")),
      new File(need("out")), new File(need("expected")), new File(m.getOrElse("pgroot", "")),
      m.get("record").contains("1"))
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def write(v: Any): String = v match {
    case null              => "null"
    case s: String         => quote(s)
    case b: Boolean        => b.toString
    case d: Double         => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float          => write(f.toDouble)
    case n: Number         => n.toString
    case m: Map[_, _]      => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]    => s.map(write).mkString("[", ",", "]")
    case o: Option[_]      => o.map(write).getOrElse("null")
    case other             => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.result()
  }
}
