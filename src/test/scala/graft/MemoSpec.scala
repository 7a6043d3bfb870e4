package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** The state cache's contract: a key is built once however many callers
  * race for it, so a frame owned by the entry is owned once; a failed
  * build is retried by the next caller; and an entry tied to several
  * sources goes when any one of them changes.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def race[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    try {
      val futures = (1 to n).map(_ => pool.submit(() => { start.await(); f }))
      start.countDown()
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("concurrent builds of one key leave exactly one pinned RDD") {
    val key = s"memo-race-${System.nanoTime()}"
    val builds = new AtomicInteger()
    val ownedBefore = StateCache.ownedIds(spark)
    val frames = race(4) {
      StateCache.frame(spark, key) {
        builds.incrementAndGet()
        Thread.sleep(300) // hold the build open while the others arrive
        Graft.materialize((1 to 100).toDF("x"), eager = true)
      }
    }
    assert(builds.get() === 1)
    // every caller gets its own instance of the one built frame
    assert(frames.map(GraftBridge.checkpointRddIds).distinct.size === 1)
    val added = StateCache.ownedIds(spark) -- ownedBefore
    assert(added === GraftBridge.checkpointRddIds(frames.head).toSet)
    assert(added.size === 1)
    StateCache.flush(spark)
    assert(StateCache.ownedIds(spark).isEmpty)
    assert(!spark.sparkContext.getPersistentRDDs.contains(added.head))
  }

  test("an entry tied to two sources is forgotten when either path changes") {
    val (a, b) = (StateCache.Source(s"memo-a-${System.nanoTime()}", "1"),
      StateCache.Source(s"memo-b-${System.nanoTime()}", "1"))
    for (changed <- Seq(a, b)) {
      val key = s"memo-two-${changed.path}"
      assert(StateCache.value(spark, key, Set(a, b))(1) === 1)
      assert(StateCache.value(spark, key, Set(a, b))(2) === 1) // kept
      StateCache.invalidate(spark, "memo-unrelated")
      assert(StateCache.value(spark, key, Set(a, b))(2) === 1)
      StateCache.invalidate(spark, changed.path)
      assert(StateCache.value(spark, key, Set(a, b))(3) === 3, s"${changed.path} changed")
    }
  }

  test("a failed build is forgotten: the next caller builds again") {
    val key = s"memo-fail-${System.nanoTime()}"
    intercept[IllegalStateException] {
      StateCache.value[DataFrame](spark, key)(throw new IllegalStateException("boom"))
    }
    assert(StateCache.value(spark, key)(42) === 42)
  }
}
