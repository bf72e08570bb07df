package graft.bindings

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Lifecycle bounds of the session-scoped spine store (r14): entries
  * must not outlive their session — the r13 TrieMaps never evicted, so
  * a long-lived multi-session JVM pinned dead sessions' plans. */
class SessionCacheSpec extends SparkSpec {

  test("entries are per-session, purgeable per-session, and rebuilt after invalidate") {
    val cache = new SessionCache[String, DataFrame]
    val s2 = spark.newSession()
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession) =
      cache.getOrElseUpdate(s, "k") { builds += 1; s.range(3).toDF("n") }
    val a = get(spark)
    val b = get(s2)
    assert(builds == 2, "distinct sessions must build distinct entries")
    assert((a eq get(spark)) && (b eq get(s2)), "repeat access must hit")
    assert(cache.size == 2)
    // the abandoned-session path: invalidate drops ONLY that session's
    // entries; the surviving session keeps its cached frame by reference
    assert(cache.invalidate(s2) == 1)
    assert(cache.size == 1)
    assert(get(spark) eq a, "surviving session's entry must be untouched")
    assert(builds == 2)
    val b2 = get(s2)
    assert(builds == 3 && !(b2 eq b), "invalidated entry must rebuild")
  }

  test("getOrRebuild: persisted entry is reused; unpersisted entry is rebuilt") {
    val cache = new SessionCache[String, DataFrame]
    var builds = 0
    def get() = cache.getOrRebuild(spark, "k") {
      builds += 1
      spark.range(3).toDF("n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val a = get()
    assert(builds == 1 && (get() eq a), "live persist must be reused")
    a.unpersist() // what spark.catalog.clearCache() does to every frame
    val b = get()
    assert(builds == 2 && !(b eq a),
      "recovery must rebuild a fresh frame, never re-persist the stale one")
    assert(b.storageLevel.useMemory && (get() eq b))
  }

  test("getOrRebuild: racing double-rebuild leaves exactly one persisted block set") {
    // r15 (r14 verdict #3 / advisor): two callers observing an
    // unpersisted entry must not BOTH evaluate `fresh` — the loser's
    // persisted blocks would leak until context teardown. The per-key
    // monitor serializes the rebuild; builds counts evaluations.
    val cache = new SessionCache[String, DataFrame]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val live = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.DataFrame]()
    def fresh() = {
      // each build gets a DISTINCT plan (lit(i)): df.storageLevel reads
      // the cache manager by canonicalized plan, so two builds of the
      // same plan would alias each other's persist state and hide a
      // double-persist from the final assertion
      val i = builds.incrementAndGet()
      val d = spark.range(3).toDF("n")
        .withColumn("b", org.apache.spark.sql.functions.lit(i))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      live.synchronized { live += d }
      d
    }
    def race(): Unit = {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fs = (1 to 2).map { _ =>
          pool.submit(new java.util.concurrent.Callable[
            org.apache.spark.sql.DataFrame] {
            def call() = { gate.await(); cache.getOrRebuild(spark, "k")(fresh()) }
          })
        }
        gate.countDown()
        val got = fs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
        assert(got(0) eq got(1), "racers must observe the same frame")
      } finally pool.shutdownNow()
    }
    race() // cold build race
    assert(builds.get == 1, s"cold race must build once, built ${builds.get}")
    live.head.unpersist() // the harness clearCache shape
    race() // recovery race
    assert(builds.get == 2, s"recovery race must rebuild once, built ${builds.get}")
    val persisted = live.filter(_.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
    assert(persisted.size == 1,
      s"exactly one persisted block set may remain, found ${persisted.size}")
    persisted.foreach(_.unpersist())
  }

  test("purge predicate drives eviction (the stopped-context path)") {
    val cache = new SessionCache[String, DataFrame]
    val s2 = spark.newSession()
    cache.getOrElseUpdate(spark, "k")(spark.range(1).toDF("n"))
    cache.getOrElseUpdate(s2, "k")(s2.range(1).toDF("n"))
    // production purges on `_.sparkContext.isStopped`; the predicate is
    // injectable so the eviction path is testable without killing the
    // suite's shared context
    assert(cache.purgeWhere(_ eq s2) == 1)
    assert(cache.size == 1)
    assert(cache.purgeWhere(_.sparkContext.isStopped) == 0,
      "live context must purge nothing")
  }

  test("non-frame values share the lifecycle: a stopped context purges them") {
    // the shape of the streaming replay inputs and the PCA model cache:
    // a plain value per (session, key), no DataFrame to unpersist
    val cache = new SessionCache[(String, Int), (String, String)]
    val s2 = spark.newSession()
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession) =
      cache.getOrElseUpdate(s, ("dir", 3)) { builds += 1; ("base", "in") }
    assert(get(spark) == (("base", "in")) && get(s2) == (("base", "in")))
    assert(get(spark) == (("base", "in")) && builds == 2 && cache.size == 2)
    // the application-end listener's purge: every session on the
    // stopped context goes, not only the one that registered the hook
    val sc = spark.sparkContext
    assert(cache.purgeWhere(_.sparkContext eq sc) == 2)
    assert(cache.size == 0)
    get(spark)
    assert(builds == 3, "a purged value must rebuild on next access")
  }
}
