package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The memo builds each (session, key) once: concurrent callers share
  * one compute, failures are not cached, builds nest, and a stored
  * artifact's path never has two writers at once. */
class SnapshotMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** A fresh key per test, so no test sees another's entries. */
  private def key(name: String) = s"memo-spec-$name:${System.nanoTime}"

  private def inThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(body(i)))),
      60.seconds)
    finally pool.shutdownNow()
  }

  test("concurrent callers of one key share a single compute") {
    val k = key("single-flight")
    val computes = new AtomicInteger
    val asking = new CountDownLatch(8)
    val release = new CountDownLatch(1)
    val values = inThreads(9) { i =>
      if (i == 8) {
        // every caller is about to ask; give them time to reach the memo
        assert(asking.await(30, TimeUnit.SECONDS))
        Thread.sleep(300)
        release.countDown()
        null
      } else {
        asking.countDown()
        SnapshotMemo.getOrCompute(spark, k) {
          computes.incrementAndGet()
          release.await(30, TimeUnit.SECONDS)
          spark.range(1).toDF()
        }
      }
    }.take(8)
    assert(computes.get == 1)
    assert(values.forall(_ eq values.head))
  }

  test("a compute that asks for its own key fails at once, naming it") {
    val k = key("self")
    def build(): DataFrame = SnapshotMemo.getOrCompute(spark, k)(build())
    val e = intercept[IllegalStateException](build())
    assert(e.getMessage.contains(k))
    // the failure was not cached
    assert(SnapshotMemo.getOrCompute(spark, k)(spark.range(2).toDF())
      .count() == 2)
  }

  test("a compute may build another key, and both are memoized") {
    val (outer, inner) = (key("outer"), key("inner"))
    val v = SnapshotMemo.getOrCompute(spark, outer) {
      SnapshotMemo.getOrCompute(spark, inner)(20L) + 1L
    }
    assert(v == 21L)
    assert(SnapshotMemo.getOrCompute[Long](spark, inner)(
      fail("inner was not memoized")) == 20L)
    assert(SnapshotMemo.getOrCompute[Long](spark, outer)(
      fail("outer was not memoized")) == 21L)
  }

  test("a failed compute is not cached, and its waiters see its exception") {
    val k = key("failing")
    val boom = new RuntimeException("boom")
    val computing = new CountDownLatch(1)
    val waiting = new CountDownLatch(1)
    val thrown = inThreads(2) { i =>
      try {
        if (i == 0)
          SnapshotMemo.getOrCompute[Int](spark, k) {
            computing.countDown()
            assert(waiting.await(30, TimeUnit.SECONDS))
            Thread.sleep(300) // let the waiter reach the memo
            throw boom
          }
        else {
          assert(computing.await(30, TimeUnit.SECONDS))
          waiting.countDown()
          SnapshotMemo.getOrCompute[Int](spark, k)(
            fail("the waiter computed"))
        }
        None
      } catch { case t: Throwable => Some(t) }
    }
    assert(thrown.forall(_.exists(_ eq boom)))
    assert(SnapshotMemo.getOrCompute(spark, k)(7) == 7)
  }

  /** A session whose context reports itself stopped. The tests share
    * one live context, which must not be stopped; no constructor runs,
    * and the memo reads nothing but `sparkContext.isStopped`. */
  private def stoppedSession(): SparkSession = {
    val objenesis = new org.objenesis.ObjenesisStd()
    val sc = objenesis.newInstance(classOf[SparkContext])
    val stopped = classOf[SparkContext].getDeclaredField("stopped")
    stopped.setAccessible(true)
    stopped.set(sc, new AtomicBoolean(true))
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    val session = objenesis.newInstance(cls)
    val ctx = cls.getDeclaredField("sparkContext")
    ctx.setAccessible(true)
    ctx.set(session, sc)
    session
  }

  test("entries of a stopped session are evicted") {
    val stopped = stoppedSession()
    assert(stopped.sparkContext.isStopped)
    val computes = new AtomicInteger
    def get() =
      SnapshotMemo.getOrCompute(stopped, "k")(computes.incrementAndGet())
    assert(get() == 1)
    // the next access of any kind evicts the stopped session's entries
    val live = key("live")
    SnapshotMemo.getOrCompute(spark, live)(1)
    assert(get() == 2)
    assert(SnapshotMemo.getOrCompute[Int](spark, live)(
      fail("a live session's entry was evicted")) == 1)
  }

  test("stored runs one write per session, never two on one path at once") {
    val d = s"memo-spec-stored-${System.nanoTime}"
    val sessions = Seq(spark.newSession(), spark.newSession())
    val inFlight = new AtomicInteger
    val maxInFlight = new AtomicInteger
    val writes = new AtomicInteger
    val ready = new CountDownLatch(2)
    val paths = inThreads(2) { i =>
      ready.countDown()
      assert(ready.await(30, TimeUnit.SECONDS))
      SnapshotMemo.stored(sessions(i), d, "probe") { _ =>
        writes.incrementAndGet()
        maxInFlight.accumulateAndGet(inFlight.incrementAndGet(),
          (a, b) => a max b)
        Thread.sleep(300)
        inFlight.decrementAndGet()
      }
    }
    assert(writes.get == 2)
    assert(maxInFlight.get == 1)
    assert(paths.distinct == Seq(SnapshotMemo.storedPath(d, "probe")))
    sessions.foreach(s =>
      SnapshotMemo.stored(s, d, "probe")(_ => fail("written twice")))
  }
}
