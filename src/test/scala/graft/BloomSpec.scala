package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** The one Bloom artifact: a plain filter is the one-shard filter, so every
  * shard count shares one type, one probe kernel, one build and one
  * persisted kind. */
class BloomSpec extends SparkSpecBase {
  import spark.implicits._

  test("a 3-shard bloom saved to a directory loads through loadBloomIndex bit-exact and probes identically") {
    val grams = (0 until 4000).map(i => s"g3_$i").toDF("gram")
    val idx = Sampling.buildBloomIndex(grams, "gram", nShards = 3)
    val d = tmpDir("bloom3")
    idx.save(spark, d)
    val back = Sampling.loadBloomIndex(spark, d)
    assert(back.nShards === 3 && back.mBits === idx.mBits && back.k === idx.k &&
      back.nItems === idx.nItems)
    (0 until 3).foreach { s =>
      assert(java.util.Arrays.equals(back.shards(s), idx.shards(s)), s"shard $s drifted")
    }
    val verdicts = grams.union((0 until 12000).map(i => s"x_$i").toDF("gram"))
      .select(col("gram"),
        Sampling.bloomContainsAny(idx)(array(col("gram"))).as("mem"),
        Sampling.bloomContainsAny(back)(array(col("gram"))).as("disk"))
      .as[(String, Boolean, Boolean)].collect()
    assert(verdicts.forall(r => r._2 == r._3),
      s"loaded probe drifted: ${verdicts.filter(r => r._2 != r._3).take(5).toSeq}")
    assert(verdicts.filter(_._1.startsWith("g3_")).forall(_._2), "a member probed false")
  }

  test("main ships one Bloom filter: no sharded twin, and one helper reads H2Seed") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), "UTF-8"))
      .toSeq
    val twins = sources.collect {
      case (f, src) if src.contains("ShardedBloom") || src.contains("shardedBloom") ||
        src.contains("bloomDecontaminationWith") => f
    }
    assert(twins.isEmpty, s"sharded Bloom twins remain in main: $twins")
    val reads = for {
      (f, src) <- sources
      line <- src.linesIterator
      code = line.trim
      if code.contains("H2Seed") && !code.startsWith("*") && !code.startsWith("//") &&
        !code.startsWith("/**") && !code.contains("val H2Seed")
    } yield f -> code
    assert(reads.size == 1 && reads.head._1 == "graft/functions/BloomProbe.scala",
      s"H2Seed must be read by exactly one hashing helper: $reads")
  }
}
