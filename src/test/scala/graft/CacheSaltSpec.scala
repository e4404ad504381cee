package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.operators.Dedup
import graft.util.Materialize

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The cross-query CacheManager race class (round 10, commit 50fdb3e):
  * Spark shares plan-EQUAL persisted subtrees across concurrently executing
  * queries, and an operator's end-of-invocation unpersist drops the shared
  * entry mid-flight for everyone. [[graft.util.Materialize.persist]] makes
  * the class impossible by salting every operator-internal persist per
  * invocation; this suite proves (1) the isolation property itself — two
  * plan-equal salted persists get independent cache entries, so releasing
  * one cannot touch the other — and (2) output stability of a real dedup
  * kernel under the exact concurrency shape that corrupted a gate sweep
  * (plan-equal invocations racing on 4 threads, each scope freeing its
  * intermediates mid-flight for the others). */
class CacheSaltSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet(sf("documents")).select("doc_id", "text").limit(200)

  test("salted persists of plan-equal frames are isolated cache entries") {
    val base = docs.select(col("doc_id"), length(col("text")).as("len"))
    Materialize.scope {
      val a = Materialize.persist(base)
      val b = Materialize.persist(base)
      assert(a.count() == b.count())
      // both materialized and both independently cached
      assert(a.storageLevel != StorageLevel.NONE, "a not cached")
      assert(b.storageLevel != StorageLevel.NONE, "b not cached")
      // the class property: dropping a's entry must leave b's alive — with
      // UNsalted persists the two plans are sameResult and share ONE entry,
      // so this release would yank b's cache mid-flight (the round-10 race)
      Materialize.release(a)
      assert(a.storageLevel == StorageLevel.NONE)
      assert(b.storageLevel != StorageLevel.NONE,
        "plan-equal sibling lost its cache entry — salting is broken")
      assert(b.count() == docs.count())
    }
  }

  test("unsalted persist demonstrates the shared-entry hazard the salt removes") {
    // documents (not an assertion of desired behavior): plain persist of
    // plan-equal frames shares one CacheManager entry, which is exactly why
    // operator-internal persists must be salted
    val base = docs.select(col("doc_id"), length(col("text")).as("len2"))
    val a = base.persist()
    val b = base.persist() // logs "already cached"; same entry
    try {
      a.count()
      a.unpersist(blocking = true)
      assert(b.storageLevel == StorageLevel.NONE,
        "expected the shared-entry hazard (if Spark changed semantics, " +
          "re-evaluate whether the persist salt is still needed)")
    } finally { a.unpersist(); b.unpersist(); () }
  }

  test("plan-equal dedup kernels are output-stable under concurrent racing invocations") {
    // the corrupted-sweep shape: N threads run the SAME verified-dedup
    // invocation (plan-equal persisted sigs/sets subtrees) concurrently;
    // each invocation's scope frees its intermediates while siblings are
    // mid-flight. Pre-fix this emitted the pre-dedup band-collision
    // multiset ~1-in-7 sweeps; with salted persists every run must return
    // the identical, duplicate-free pair set.
    val expected = Dedup
      .minhashVerifiedPairs(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
    assert(expected.nonEmpty, "fixture has no near-dup pairs at 0.5")
    val pool = Executors.newFixedThreadPool(4)
    try {
      (1 to 3).foreach { round =>
        val start = new CountDownLatch(1)
        val results = (1 to 4).map { _ =>
          pool.submit { () =>
            start.await()
            Materialize.scope {
              Dedup
                .minhashVerifiedPairs(docs, "doc_id", "text", threshold = 0.5)
                .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
            }
          }
        }
        start.countDown()
        results.zipWithIndex.foreach { case (f, i) =>
          val rows = f.get(120, TimeUnit.SECONDS)
          assert(rows.size == rows.distinct.size,
            s"round $round thread $i: duplicated pairs — the multiset race")
          assert(rows == expected,
            s"round $round thread $i: output diverged under concurrency")
        }
      }
    } finally { pool.shutdownNow(); () }
  }
}
