package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.PlanLedger.{allNodes, shuffleKeyNames}

/** Round 9: the timestamp physical-encoding normalization is generalized
  * beyond `events.ts` (any column, any table, keyed on inspected physical
  * type) and the legacy `nanosAsLong` conf is SCOPED — set only when a
  * footer actually carries TIMESTAMP(NANOS), restored after the read, so
  * a table load can never change how unrelated reads in the same session
  * behave. Also pins the raw-INT64 plausibility guard (ADVICE r8): a
  * stale "bare INT64 = nanos" contract fails loudly, not by silently
  * dividing times by 1000.
  */
class Round9Spec extends SparkSpecBase {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def writeNanosParquet(file: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = Types.buildMessage()
      .addField(Types.required(INT64).named("event_id"))
      .addField(Types.required(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts"))
      .named("spark_schema")
    val hconf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), hconf))
      .withType(schema)
      .build()
    val gf = new SimpleGroupFactory(schema)
    rows.foreach { case (id, nanos) =>
      val g = gf.newGroup()
      g.add("event_id", id)
      g.add("ts", nanos)
      writer.write(g)
    }
    writer.close()
  }

  test("NTZ normalization is table-agnostic: a re-encoded documents column normalizes too") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("r9-docs-ntz")
    Seq((1L, "alpha", "2024-05-01 08:00:00.000001"),
        (2L, "beta", "2024-05-02 09:30:00.999999"))
      .toDF("doc_id", "text", "created_str")
      .withColumn("created_at", to_timestamp(col("created_str")).cast(TimestampNTZType))
      .drop("created_str")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.sources.Sources.table(spark, dir, "documents")
    assert(got.schema("created_at").dataType === TimestampType)
    assert(got.schema("doc_id").dataType === LongType) // non-timestamp columns untouched
    val micros = got.select(unix_micros(col("created_at")))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(micros.sameElements(Array(1714550400000001L, 1714642200999999L)),
      s"NTZ normalization changed values: ${micros.toSeq}")
    assert(spark.conf.get(NanosKey) === "false",
      "an NTZ load must not leave the legacy nanos conf enabled")
  }

  test("true TIMESTAMP(NANOS) parquet loads via the scoped legacy read; session conf restored") {
    val dir = tmpDir("r9-true-nanos")
    // 2024-03-01T10:45:30.123456789Z — sub-microsecond digits must truncate.
    writeNanosParquet(s"$dir/events.parquet",
      Seq((1L, 1709289930123456789L), (2L, 1709289931000000001L)))
    assert(spark.conf.get(NanosKey) === "false", "precondition: legacy conf disabled")
    val got = graft.sources.Sources.table(spark, dir, "events")
    assert(got.schema("ts").dataType === TimestampType)
    val micros = got.select(unix_micros(col("ts")))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(micros.sameElements(Array(1709289930123456L, 1709289931000000L)),
      s"nanos load must keep micros and drop the sub-micro tail: ${micros.toSeq}")
    assert(spark.conf.get(NanosKey) === "false",
      "the legacy conf must be restored after the scoped read")
    // The session-wide behavior for OTHER nanos reads is unaffected: a
    // direct read still rejects the type, exactly as a fresh session would.
    val other = tmpDir("r9-other-nanos")
    writeNanosParquet(s"$other/other.parquet", Seq((1L, 1709289930123456789L)))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(s"$other/other.parquet").collect()
    }
  }

  test("stale raw-INT64 nanos contract fails loudly, not by silent division") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("r9-stale-int64")
    // Micros stored where the contract says nanos: div 1000 lands in 1970,
    // far outside the [1990, 2100) plausibility window.
    Seq((1L, 1709289930123456L, 7L, "click", 1.5, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.sources.Sources.table(spark, dir, "events")
    val e = intercept[Exception] { got.collect() }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("implausible"),
      s"expected the plausibility guard to fire, got: $messages")
  }

  test("multiple timestamp columns on one table all normalize (mixed encodings)") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("r9-two-ts")
    // ts: bare INT64 nanos (the declared events contract); ingested_at: NTZ.
    Seq((1L, 1709289930123456789L, "2024-03-01 11:00:00.000001"))
      .toDF("event_id", "ts", "ingested_str")
      .withColumn("ingested_at", to_timestamp(col("ingested_str")).cast(TimestampNTZType))
      .drop("ingested_str")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.sources.Sources.table(spark, dir, "events")
    assert(got.schema("ts").dataType === TimestampType)
    assert(got.schema("ingested_at").dataType === TimestampType)
    val row = got.select(unix_micros(col("ts")), unix_micros(col("ingested_at"))).head()
    assert(row.getLong(0) === 1709289930123456L)
    assert(row.getLong(1) === 1709290800000001L)
  }

  // ---- LSH auto-sizing (the last documented quadratic footgun, as code) ----

  test("autoLshParams: bits tracks log2(n) at constant bucket density, +2 tables per bit") {
    import graft.operators.SimilaritySearch.autoLshParams
    // Below the base scale the floor holds (sf0.01/sf0.1 corpora land here,
    // so shipped d06 results are bit-for-bit what the pinned (8, 12) gave).
    assert(autoLshParams(0) === ((8, 12)))
    assert(autoLshParams(500) === ((8, 12)))
    assert(autoLshParams(2050) === ((8, 12)))
    assert(autoLshParams(4096) === ((8, 12)))  // 256 buckets = 2^8 exactly
    // Stress's measured boundary: 8x sf0.1 (~16.4k vectors) pinned at
    // bits=8 went super-linear; hand-tuned bits=11 was linear. The rule
    // lands exactly there without a hand on the knob.
    assert(autoLshParams(16400) === ((11, 18)))
    // One bit per doubling from there on.
    assert(autoLshParams(32800)._1 === 12)
    assert(autoLshParams(1L << 34) === ((30, 56))) // 2^34/16 = 2^30 buckets
  }

  test("autoLshParams: table compensation holds near-dup recall through 10^12 vectors") {
    import graft.operators.SimilaritySearch.autoLshParams
    // Collision probability of a true pair at cosine c under one random
    // hyperplane: p = 1 - arccos(c)/pi. Candidate recall over the multi-
    // table family: 1 - (1 - p^bits)^tables. The +2-tables-per-bit rule
    // must keep recall >= 0.999 at the c >= 0.99 near-dup regime the
    // operator is shipped for, at EVERY scale the rule will ever pick.
    val p = 1.0 - math.acos(0.99) / math.Pi
    for (exp <- 3 to 12) {
      val n = math.pow(10, exp).toLong
      val (bits, tables) = autoLshParams(n)
      val recall = 1.0 - math.pow(1.0 - math.pow(p, bits), tables)
      assert(recall >= 0.999,
        f"recall $recall%.6f at n=1e$exp (bits=$bits, tables=$tables)")
    }
  }

  test("embeddingNearDups with no bits argument matches the explicit (8, 12) baseline") {
    val s = spark
    import s.implicits._
    val base = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val aug = graft.operators.Dedup.withPlantedNearDups(
      base, "vec_id", "v", pred = pmod(col("vec_id"), lit(40)) === 0,
      idOffset = 1000000000L)
    // At this corpus size the auto rule must land on the base point — that
    // is WHY the outputs are identical, so pin both facts.
    assert(graft.operators.SimilaritySearch.autoLshParams(aug.count()) === ((8, 12)))
    val auto = graft.operators.Dedup
      .embeddingNearDups(aug, "vec_id", "v", threshold = 0.9)
      .collect().map(_.toSeq).toSet
    val explicit = graft.operators.Dedup
      .embeddingNearDups(aug, "vec_id", "v", threshold = 0.9, bits = 8, tables = 12)
      .collect().map(_.toSeq).toSet
    assert(auto === explicit)
    assert(auto.nonEmpty, "planted near-dups must surface")
  }

  // ---- d15: ExactSubstr verbatim-run pairs ----

  test("exactSubstrPairs: any-offset runs found, chunk-boundary-blind, boilerplate capped") {
    val s = spark
    import s.implicits._
    val run = (1 to 12).map(i => s"r$i").mkString(" ") // 12-token run: 3 distinct 10-grams
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // shared by ALL docs below
    val docs = Seq(
      // The run sits at DIFFERENT offsets in 1 and 2 — d08's fixed
      // chunks would hash it into misaligned chunks; d15 must pair them.
      (1L, s"$run ${(1 to 9).map(i => s"x$i").mkString(" ")} $boiler"),
      (2L, s"${(1 to 5).map(i => s"y$i").mkString(" ")} $run $boiler"),
      (3L, s"${(1 to 25).map(i => s"z$i").mkString(" ")} $boiler"),
      (4L, s"${(1 to 25).map(i => s"w$i").mkString(" ")} $boiler")
    ).toDF("doc_id", "text")
    // Cap at 3: the boilerplate 10-gram occurs in 4 docs and is dropped,
    // so docs 3/4 (which share ONLY boilerplate) never pair.
    val got = graft.operators.Dedup
      .exactSubstrPairs(docs, "doc_id", "text", k = 10, maxGramDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq.sorted === Seq((1L, 2L, 3L)),
      s"expected exactly the planted run pair with 3 shared 10-grams, got ${got.toSeq}")
    // Without the cap the boilerplate pairs everything with everything.
    val uncapped = graft.operators.Dedup
      .exactSubstrPairs(docs, "doc_id", "text", k = 10, maxGramDocs = 100)
      .count()
    assert(uncapped === 6L, "4 docs sharing a boilerplate gram = C(4,2) pairs")
  }

  test("d15 plan: gram-keyed exchanges only, no nested-loop or cartesian stage") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    // Every execution the shipped call runs: the gram checkpoint and the
    // collect.
    val runs = PlanLedger.capture(spark) {
      graft.operators.Dedup
        .exactSubstrPairs(docs, "doc_id", "text", k = 10, maxGramDocs = 256)
        .collect()
    }
    PlanLedger.hashKeys(runs) // fails unless the capture saw a checkpoint and a keyed shuffle
    runs.foreach { run =>
      val nodes = allNodes(run.plan)
      assert(!nodes.exists(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"candidate generation must be the gram equi-join, never all-pairs:\n" +
          s"${run.plan}")
      shuffleKeyNames(run.plan).foreach { names =>
        assert(names.forall(Set("gram", "a_id", "b_id")),
          s"d15 shuffles (id, gram) rows and the pair aggregate only, got $names")
      }
    }
  }

  // ---- p14: the decontamination audit seen from the eval side ----

  test("contaminationProvenance: leak counts, worst offender, deterministic tie-break") {
    val s = spark
    import s.implicits._
    val passage14 = (1 to 14).map(i => s"w$i").mkString(" ") // two 13-grams
    val passage13 = (1 to 13).map(i => s"w$i").mkString(" ") // one 13-gram
    val clean = (1 to 14).map(i => s"z$i").mkString(" ")     // no overlap
    val docs = Seq(
      (100L, passage14, "eval"),
      (200L, clean, "eval"),                      // compromised by nobody
      (1L, s"intro $passage14 outro", "train"),   // shares both grams
      (2L, s"alpha $passage13", "train"),         // shares one gram
      (3L, s"$passage14 beta", "train"),          // shares both — ties doc 1
      (4L, clean.replace("z", "y"), "train")      // leaks nothing
    ).toDF("doc_id", "text", "split")
    val got = graft.operators.Sampling
      .contaminationProvenance(docs, "doc_id", "text", "split", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // One report row per COMPROMISED eval doc: three leaky train docs, the
    // worst offenders share 2 grams, and the tie between docs 1 and 3
    // breaks to the smaller id — the same order the oracle SQL pins.
    assert(got.toSeq === Seq((100L, 3L, 2L, 1L)))
  }

  test("contaminationProvenance agrees with ngramContamination's drop list") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("split", graft.operators.Sampling.assignSplit(col("doc_id")))
    val dropList = graft.operators.Sampling
      .ngramContamination(docs, "doc_id", "text", "split", n = 13)
    val report = graft.operators.Sampling
      .contaminationProvenance(docs, "doc_id", "text", "split", n = 13)
    // Same match stream, two aggregations: the total (eval, train) pair
    // count must reconcile, and every worst offender must be on the drop
    // list with at least its pairwise gram count.
    val nPairsFromReport = report.agg(sum(col("n_leaky_train_docs"))).head().getLong(0)
    val nPairsDirect = dropList.count() // train side: one row per train doc
    assert(nPairsFromReport >= nPairsDirect,
      "each train doc pairs with >= 1 eval doc")
    val joined = report.join(dropList,
      report("worst_train_id") === dropList("train_id"))
    assert(joined.count() === report.count(),
      "every worst offender appears on the drop list")
    assert(joined.filter(col("n_shared_grams") < col("max_shared_grams")).isEmpty,
      "a train doc's total shared grams bounds its per-eval share")
  }

  // ---- t15 seed overlap + p15 target mixture ----

  test("seedOverlapScore: hand-computed overlap ratios, short docs absent") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps", "seed"),  // 3 shingles, all seed
      (2L, "the quick brown fox sleeps", "web"),  // shingles: {tqb, qbf, bfs'} — 2 of 3 in seed
      (3L, "entirely different tokens here now", "web"), // 0 of 3
      (4L, "too short", "web")                    // < 3 tokens: not emitted
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.TextAnalysis
      .seedOverlapScore(docs, "doc_id", "text", col("source") === "seed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 3L, 3L, 10000L),  // the seed doc itself: full overlap
      (2L, 3L, 2L, 6666L),   // 2/3 → floor(20000/3)
      (3L, 3L, 0L, 0L)))
  }

  test("targetMixture: closed-form rates — binding group admits everything") {
    val s = spark
    import s.implicits._
    // Token totals: a=1000, b=4000; targets 50/50. Binding group is a
    // (least headroom): T = min(1000·1e4/5000, 4000·1e4/5000) = 2000
    // tokens·bp-scale → rate_a = 10000 (all), rate_b = 2500 (downsample
    // 4x so b contributes the same 1000 tokens).
    val docs = (1 to 100).map(i => (i.toLong, "a", 10L)) ++
      (101 to 200).map(i => (i.toLong, "b", 40L))
    val df = docs.toDF("doc_id", "grp", "n_tokens")
    val targets = Seq(("a", 5000L), ("b", 5000L)).toDF("grp", "weight_bp")
    val got = graft.operators.Sampling
      .targetMixture(df, "grp", "doc_id", "n_tokens", targets)
    val rates = got.select(col("grp"), col("rate_bp")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rates("a") === 10000L)
    assert(rates("b") === 2500L)
    // Every group-a doc admitted; group b roughly a quarter (hash Bernoulli).
    assert(got.filter(col("grp") === "a").count() === 100L)
    val bCount = got.filter(col("grp") === "b").count()
    assert(bCount > 5 && bCount < 60, s"expected ~25 of 100, got $bCount")
  }

  test("targetMixture: binding group admits everything on FP-inexact (n, w) too") {
    val s = spark
    import s.implicits._
    // n=1, w=139: t = 1e4/139 = 71.94244604316547, and w*t/n lands at
    // 9999.999999999998 in doubles (one of ~100k small (n, w) combos
    // that floor to 9999) — the epsilon nudge must floor it to 10000,
    // not silently drop one hash bucket of the binding group.
    val df = Seq((1L, "a", 1L), (2L, "b", 1000L)).toDF("doc_id", "grp", "n_tokens")
    val targets = Seq(("a", 139L), ("b", 9861L)).toDF("grp", "weight_bp")
    val got = graft.operators.Sampling
      .targetMixture(df, "grp", "doc_id", "n_tokens", targets)
    val rateA = got.filter(col("grp") === "a").select(col("rate_bp"))
      .distinct().collect().map(_.getLong(0))
    assert(rateA.toSeq === Seq(10000L),
      s"binding group's rate must survive double rounding, got ${rateA.toSeq}")
    assert(got.filter(col("grp") === "a").count() === 1L)
  }

  test("targetMixture: a zero-token target group fails loudly, not an empty corpus") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 0L), (2L, "b", 10L)).toDF("doc_id", "grp", "n_tokens")
    val targets = Seq(("a", 5000L), ("b", 5000L)).toDF("grp", "weight_bp")
    val e = intercept[Exception] {
      graft.operators.Sampling
        .targetMixture(df, "grp", "doc_id", "n_tokens", targets).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("zero tokens"), s"got: $messages")
  }

  test("embeddingNearDups: explicit tables survives the auto-bits branch") {
    val s = spark
    import s.implicits._
    val base = graft.sources.Sources
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    // tables=24 with auto bits must equal tables=24 with the explicit
    // (8, 24) point (auto lands bits=8 at this corpus size) — the
    // argument must not be silently eaten by the auto branch.
    val auto = graft.operators.Dedup
      .embeddingNearDups(base, "vec_id", "v", 0.9, tables = 24)
      .collect().map(_.toSeq).toSet
    val explicit = graft.operators.Dedup
      .embeddingNearDups(base, "vec_id", "v", 0.9, bits = 8, tables = 24)
      .collect().map(_.toSeq).toSet
    assert(auto === explicit)
  }

  test("targetMixture: an out-of-range weight fails loudly at execution") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 10L)).toDF("doc_id", "grp", "n_tokens")
    val targets = Seq(("a", 0L)).toDF("grp", "weight_bp")
    val e = intercept[Exception] {
      graft.operators.Sampling
        .targetMixture(df, "grp", "doc_id", "n_tokens", targets).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("out of (0, 10000]"), s"got: $messages")
  }

  test("t15 plan: broadcast seed probe; the only hash shuffle is the per-doc aggregate") {
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.TextAnalysis
      .seedOverlapScore(docs, "doc_id", "text", col("source") === "src0")
    out.queryExecution.toRdd.count()
    assert(allNodes(out.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "expected the seed gram set to be broadcast")
    // Two legitimate shuffles: the SEED-side gram distinct (bounded by the
    // curated seed corpus, built once before the broadcast) and the
    // one-row-per-doc partial aggregate. Nothing may shuffle corpus text.
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("doc_id", "gram")),
        s"t15 may only shuffle the seed gram build and the per-doc " +
          s"aggregate, got $names")
    }
  }

  test("p15 plan: the corpus never shuffles — only the |groups|-sized solve does") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val targets = docs.select(col("source")).distinct()
      .withColumn("weight_bp", lit(500L))
    val out = graft.operators.Sampling
      .targetMixture(docs, "source", "doc_id", "n_tokens", targets)
    // Admission must reach the corpus as a broadcast join; every hash
    // shuffle keys on the group column (the token-count aggregate and the
    // targets distinct), never on doc_id.
    out.queryExecution.toRdd.count()
    assert(allNodes(out.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "expected the rate table to broadcast onto the corpus")
    shuffleKeyNames(out).foreach { names =>
      assert(names.forall(Set("source")),
        s"p15 must never shuffle on the document key, got $names")
    }
  }

  test("p14 plan: broadcast gram probe; every exchange keyed on the match population") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Sources.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("split", graft.operators.Sampling.assignSplit(col("doc_id")))
    val out = graft.operators.Sampling
      .contaminationProvenance(docs, "doc_id", "text", "split", n = 13)
    out.queryExecution.toRdd.count()
    val nodes = allNodes(out.queryExecution.executedPlan)
    // The corpus side must hash-join a broadcast eval gram relation — the
    // same contract as p11 (shared match-stream builder).
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "expected the eval gram set to be broadcast")
    // Post-probe, every shuffle is keyed on match-population columns
    // (eval_id/train_id/gram aggregates + the per-eval window) or the
    // eager spread's round-robin — NEVER a corpus-wide text/doc key.
    val shuffles = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    val allowed = Set("eval_id", "train_id", "gram")
    shuffles.foreach { e =>
      val names = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name))
        case _ => Seq.empty // round-robin spread of the scan side
      }
      assert(names.forall(allowed),
        s"unexpected shuffle key $names:\n${out.queryExecution.executedPlan}")
    }
  }
}
