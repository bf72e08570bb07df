package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

class ConcurrentSpec extends SparkSpec {

  private def eventually(timeoutMs: Long = 20000L)(cond: => Boolean): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(50)
    cond
  }

  test("a failure surfaces only after every thunk finished, as the original exception") {
    val started = new CountDownLatch(2)
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.all(
        () => {
          started.countDown()
          assert(started.await(10, TimeUnit.SECONDS), "thunks did not overlap")
          throw new IllegalStateException("boom")
        },
        () => {
          started.countDown()
          assert(started.await(10, TimeUnit.SECONDS), "thunks did not overlap")
          Thread.sleep(500)
          slowDone.set(true)
        })
    }
    assert(e.getMessage == "boom")
    assert(slowDone.get, "the failure was rethrown before the slow thunk finished")
  }

  test("the first failure in argument order is thrown, later ones suppressed") {
    val e = intercept[IllegalArgumentException] {
      Concurrent.all(
        () => { Thread.sleep(200); throw new IllegalArgumentException("first") },
        () => (),
        () => throw new UnsupportedOperationException("second"))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("Spark jobs inside the thunks carry the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("concurrent-spec-"))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      // two calls under different groups: each call's threads are new,
      // so the second call must not carry the first call's group
      for (g <- Seq("concurrent-spec-a", "concurrent-spec-b")) {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        try Concurrent.all(
          () => assert(sc.parallelize(1 to 100, 2).count() == 100L),
          () => assert(spark.range(100).count() == 100L))
        finally sc.clearJobGroup()
      }
      def count(g: String) = groups.asScala.count(_ == g)
      assert(eventually()(count("concurrent-spec-a") >= 2 && count("concurrent-spec-b") >= 2),
        s"jobs by group: ${groups.asScala.groupBy(identity).map { case (k, v) => k -> v.size }}")
    } finally sc.removeSparkListener(listener)
  }
}
