package graft

import graft.queries.Memo
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The once-only contract of queries.Memo, driven directly (no Spark):
  * the memoized index builds are destructive, so a key's build must run
  * once however many callers race it. */
class MemoSpec extends AnyFunSuite {

  /** Runs `body(i)` for i in 0 until n on n pool threads at once. */
  private def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CountDownLatch(1)
    try {
      val fs = (0 until n).map(i => Future { start.await(); body(i) })
      start.countDown()
      Await.result(Future.sequence(fs), 30.seconds)
    } finally pool.shutdownNow()
  }

  test("racing callers of one key share one build") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger(0)
    val got = race(8) { _ =>
      memo("k") { Thread.sleep(200); builds.incrementAndGet() }
    }
    assert(builds.get == 1)
    assert(got == Seq.fill(8)(1))
  }

  test("builds of different keys run concurrently") {
    val memo = new Memo[Int, Boolean]
    val bothIn = new CountDownLatch(2)
    // each build waits for the other to start: serialized builds time out
    val got = race(2) { i =>
      memo(i) { bothIn.countDown(); bothIn.await(10, TimeUnit.SECONDS) }
    }
    assert(got == Seq(true, true))
  }

  test("a build that throws leaves the key unbuilt and the next call retries") {
    val memo = new Memo[String, Int]
    intercept[IllegalStateException](memo("k")(throw new IllegalStateException))
    assert(memo.keys.isEmpty)
    assert(memo("k")(7) == 7)
    assert(memo("k")(8) == 7)
  }

  test("put replaces and remove drops a key's value") {
    val memo = new Memo[String, Long]
    assert(memo("root")(1L) == 1L)
    memo.put("root", 2L)
    assert(memo("root")(fail("put value must be served")) == 2L)
    assert(memo.remove("root").contains(2L))
    assert(memo.remove("root").isEmpty)
    assert(memo("root")(3L) == 3L)
    memo.clear()
    assert(memo.keys.isEmpty)
  }

  test("remove of a key still building does not wait for it") {
    val memo = new Memo[String, Int]
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = Future(memo("slow") { inBuild.countDown(); release.await(); 1 })(
        ExecutionContext.fromExecutor(pool))
      assert(inBuild.await(10, TimeUnit.SECONDS))
      assert(memo.keys.toSeq == Seq("slow"))
      assert(memo.remove("slow").isEmpty)
      release.countDown()
      assert(Await.result(f, 10.seconds) == 1)
    } finally pool.shutdownNow()
  }
}
