package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Staging

/** Once-per-key staging guard: blocking semantics, un-poisoning on
  * failure, and nested builds. The future-based claim means the build
  * runs OUTSIDE any map lock — a build that stages another key (even
  * one hashing to the same ConcurrentHashMap bin) can never hit the
  * map's recursive-update IllegalStateException the computeIfAbsent
  * form risked. */
class StagingSpec extends AnyFunSuite {

  test("losers block until the winner's build completes; build runs once") {
    val owner = new Object
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val results = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    val state = new java.util.concurrent.atomic.AtomicBoolean(false)
    for (_ <- 0 until 4) pool.submit(new Runnable { def run(): Unit = {
      Staging.once(owner, "k") {
        builds.incrementAndGet()
        entered.countDown()
        release.await(10, TimeUnit.SECONDS)
        state.set(true)
      }
      // EVERY caller — winner and losers — must observe the completed
      // build on return; the old non-blocking add-guard failed this
      if (state.get()) results.incrementAndGet()
    }})
    assert(entered.await(10, TimeUnit.SECONDS))
    release.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(10, TimeUnit.SECONDS))
    assert(builds.get() == 1, "exactly one build")
    assert(results.get() == 4, "every caller saw the finished build")
  }

  test("a failed build un-poisons: the next caller retries and succeeds") {
    val owner = new Object
    val attempts = new AtomicInteger
    intercept[RuntimeException] {
      Staging.once(owner, 7) {
        attempts.incrementAndGet(); throw new RuntimeException("boom")
      }
    }
    Staging.once(owner, 7) { attempts.incrementAndGet() }
    assert(attempts.get() == 2)
    // and now it is sealed: a third call must not rebuild
    Staging.once(owner, 7) { attempts.incrementAndGet() }
    assert(attempts.get() == 2)
  }

  test("a waiter blocked on a failing build retries instead of consuming it") {
    val owner = new Object
    val inBuild = new CountDownLatch(1)
    val mayFail = new CountDownLatch(1)
    val built = new AtomicInteger
    val t = new Thread(() => {
      intercept[RuntimeException] {
        Staging.once(owner, "x") {
          inBuild.countDown(); mayFail.await(10, TimeUnit.SECONDS)
          throw new RuntimeException("first build dies")
        }
      }
    })
    t.start()
    assert(inBuild.await(10, TimeUnit.SECONDS))
    val waiter = new Thread(() => Staging.once(owner, "x") {
      built.incrementAndGet()
    })
    waiter.start()
    Thread.sleep(100) // the waiter is now blocked on the first claim
    mayFail.countDown()
    t.join(10000); waiter.join(10000)
    assert(!waiter.isAlive && built.get() == 1,
      "the waiter must rebuild after the first claim failed")
  }

  test("nested once() for other keys inside a build never deadlocks") {
    // many nested pairs so SOME of them land in a shared hash bin — the
    // computeIfAbsent form livelocked or threw on exactly that overlap
    val owner = new Object
    val built = new AtomicInteger
    for (i <- 0 until 512) {
      Staging.once(owner, s"outer-$i") {
        Staging.once(owner, s"inner-$i") { built.incrementAndGet() }
        built.incrementAndGet()
      }
    }
    assert(built.get() == 1024)
  }

  test("memoFit fails loudly when a build returns null instead of rebuilding forever") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val spark = TestSpark.spark
    val builds = new AtomicInteger
    val attempt = Future(scala.util.Try(
      graft.operators.SimilarityOps.memoFit[AnyRef](spark, "memo-null", "fit") {
        builds.incrementAndGet(); null
      }))
    val result = Await.result(attempt, 60.seconds)
    assert(result.failed.toOption.exists(_.getMessage.contains("returned null")),
      s"got $result")
    assert(builds.get() == 1)
    // the failed claim is gone: the next caller builds afresh
    assert(graft.operators.SimilarityOps.memoFit[String](spark, "memo-null", "fit")("ok") == "ok")
  }
}
