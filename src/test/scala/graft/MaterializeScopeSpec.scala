package graft

import graft.operators.{Dedup, Graph, Multimodal, TextAnalysis}
import graft.sinks.Sinks
import graft.streaming.{EpochIngest, IndexKind}
import graft.util.Materialize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RddBridge

/** The scoped lifecycle of operator intermediates ([[Materialize.scope]]):
  * what a scope persists or cuts is freed when it exits — on an
  * exception too, in a stream epoch, in a multi-route batch and after a
  * graph walk whose result is a lazy union of cuts — and every cut honors
  * the one cut-strategy conf. */
class MaterializeScopeSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cachedBlockIds: Set[Int] = spark.sparkContext.getRDDStorageInfo
    .filter(_.numCachedPartitions > 0).map(_.id).toSet

  private def withMode[T](mode: String)(body: => T): T = {
    spark.conf.set(Materialize.ConfKey, mode)
    try body finally spark.conf.unset(Materialize.ConfKey)
  }

  private def reliablyCut(df: DataFrame): Boolean =
    RddBridge.backingRdd(df).exists(_.getCheckpointFile.isDefined)

  test("scope exit frees persists and cuts when the body throws") {
    spark.catalog.clearCache() // isolate from earlier specs' cache entries
    val before = persistedIds
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    intercept[IllegalStateException] {
      Materialize.scope {
        Materialize.persist(docs).count()
        Materialize.cut(docs.select("doc_id"))
        throw new IllegalStateException("injected failure inside the scope")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty, "a failed scope left its persist cached")
    assert((persistedIds -- before).isEmpty, "a failed scope left its cut blocks")
    // an operator whose result job fails after its persists registered
    val poisoned = docs.select(col("doc_id"),
      when(col("doc_id") === 7L, raise_error(lit("injected bad row")))
        .otherwise(col("text")).as("text"))
    intercept[Exception] {
      Materialize.scope(Dedup.minhashLshPairs(poisoned, "doc_id", "text").count())
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a throwing operator left its salted persists cached")
    assert((persistedIds -- before).isEmpty, "a throwing operator left cut blocks")
  }

  test("plan-inspection mode: a lazy result over persists needs an enclosing scope") {
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    withMode("none") {
      val e = intercept[IllegalStateException](
        Dedup.minhashLshPairs(docs, "doc_id", "text"))
      assert(e.getMessage.contains("Materialize.scope"), e.getMessage)
    }
    intercept[IllegalStateException](Materialize.persist(docs))
  }

  test("reliable mode reaches pageRank, personalizedPageRank, videoSharedFrames and the ingestPipeline card") {
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-reliable").toString)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    val videos = Multimodal.renderedVideoPayloads((0L until 10L).toDF("doc_id"), "doc_id")
    val payloads = Multimodal.renderedIngestPayloads((0L until 15L).toDF("doc_id"), "doc_id")
    withMode("reliable") {
      Materialize.scope {
        assert(reliablyCut(Graph.pageRank(pairs, "id_a", "id_b", iters = 2)),
          "pageRank result is not reliably checkpointed")
        assert(reliablyCut(Graph.personalizedPageRank(pairs, "id_a", "id_b",
            Seq(1L).toDF("id"), iters = 2)),
          "personalizedPageRank result is not reliably checkpointed")
        assert(reliablyCut(Multimodal.videoSharedFrames(videos, minShared = 2)),
          "videoSharedFrames result is not reliably checkpointed")
        val (card, ingestPairs) = Multimodal.ingestPipeline(payloads)
        assert(reliablyCut(card), "ingestPipeline card is not reliably checkpointed")
        assert(reliablyCut(ingestPairs), "ingestPipeline pairs are not reliably checkpointed")
      }
    }
  }

  test("a bad materialize value throws on TextAnalysis and Graph operators, not only on Dedup") {
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    withMode("nope") {
      Materialize.scope {
        intercept[IllegalArgumentException](TextAnalysis.vocabCoverage(docs, "text"))
        intercept[IllegalArgumentException](Graph.pageRank(pairs, "id_a", "id_b"))
        intercept[IllegalArgumentException](Dedup.minhashLshPairs(docs, "doc_id", "text"))
      }
    }
  }

  test("bfs and landmark walks: the per-hop cuts belong to the caller's scope") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val before = cachedBlockIds
    Materialize.scope {
      val dist = Graph.bfsDistances(path, "id_a", "id_b", Seq(1L).toDF("id"), maxHops = 5)
      assert(dist.count() == 6L)
      val lm = Graph.landmarkDistances(path, "id_a", "id_b", Seq(1L, 6L).toDF("id"),
        maxHops = 5)
      assert(lm.count() == 12L)
      assert((cachedBlockIds -- before).nonEmpty,
        "the walks' per-hop cuts should be live while the caller's scope is open")
    }
    val left = cachedBlockIds -- before
    assert(left.isEmpty, s"the walks left cached blocks after the scope closed: RDDs $left")
  }

  test("EpochIngest.step: 8 epochs and a failing barrier write leave no persisted RDD behind") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-epoch-scope").toString
    val docs = spark.read.parquet(sf("documents"))
      .select(col("doc_id").as("id"), col("text")).where(col("doc_id") < 90)
    docs.write.parquet(s"$tmp/docs")
    val batches = spark.read.parquet(s"$tmp/docs")
    val kind = IndexKind.textPostings()
    val table = "graft_spec_epoch_scope"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    kind.init(spark, table, s"$tmp/idx")
    spark.catalog.clearCache() // isolate from earlier specs' cache entries
    val before = persistedIds
    def assertClean(what: String): Unit = {
      assert((persistedIds -- before).isEmpty, s"$what left persisted RDDs")
      assert(spark.sharedState.cacheManager.isEmpty, s"$what left a cache entry")
    }
    val step = EpochIngest.step(kind, table, s"$tmp/out")
    (0 until 8).foreach { e =>
      step(batches.where(pmod(col("id"), lit(9)) === e), e.toLong)
      assertClean(s"epoch $e")
    }
    // the epoch-8 barrier write cannot create its directory under a file
    val notADir = new java.io.File(s"$tmp/not_a_dir")
    assert(notADir.createNewFile())
    val failing = EpochIngest.step(kind, table, notADir.toString)
    intercept[Exception](failing(batches.where(pmod(col("id"), lit(9)) === 8), 8L))
    assertClean("the failed epoch 8")
  }

  test("Sinks.fanoutEpoch: a 2-route batch leaves no persisted RDD behind") {
    val batch = Seq("apple", "banana", "avocado", "blueberry", "cherry").toDF("body")
    val routes = Seq(Sinks.Route("a", col("body").startsWith("a")),
                     Sinks.Route("b", col("body").startsWith("b")))
    spark.catalog.clearCache()
    val before = persistedIds
    val seen = scala.collection.mutable.Map.empty[String, Long]
    Sinks.fanoutEpoch(batch, routes,
      Map("a" -> ((df: DataFrame, _: Long) => seen("a") = df.count()),
          "b" -> ((df: DataFrame, _: Long) => seen("b") = df.count())),
      epoch = 3L)
    assert(seen == Map("a" -> 2L, "b" -> 2L))
    assert((persistedIds -- before).isEmpty, "the batch left persisted RDDs")
    assert(spark.sharedState.cacheManager.isEmpty, "the batch left a cache entry")
  }
}
