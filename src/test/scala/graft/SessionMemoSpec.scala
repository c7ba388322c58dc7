package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The concurrency contract of [[SessionMemo]]: one build per key under
  * contention, builds never run under a lock another key's caller waits
  * on, a failed build leaves nothing behind, and a stale value is rebuilt
  * once however many callers observe it stale. Weak-session reclamation is
  * pinned by SpreadGateSpec. */
class SessionMemoSpec extends SparkSuite {

  private val threads = 8

  private def withPool[T](body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  /** `n` concurrent calls released together; their results in order. */
  private def race[T](n: Int)(call: => T): Seq[T] = withPool { implicit ec =>
    val go = new CountDownLatch(1)
    val fs = Seq.fill(n)(Future { go.await(); call })
    go.countDown()
    Await.result(Future.sequence(fs), 60.seconds)
  }

  test("concurrent callers for one key run build once and share its value") {
    val memo = new SessionMemo[AnyRef]
    val builds = new AtomicInteger
    val got = race(threads) {
      memo.getOrBuild(spark, "k") { builds.incrementAndGet(); Thread.sleep(100); new Object }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head))
  }

  test("a build in progress for one key does not block another key") {
    val memo = new SessionMemo[String]
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // equal String hashes, so one map bin: a build run under
    // computeIfAbsent's bin lock would block the second key
    assert("Aa".hashCode == "BB".hashCode)
    withPool { implicit ec =>
      val a = Future(memo.getOrBuild(spark, "Aa") { started.countDown(); release.await(); "A" })
      assert(started.await(30, TimeUnit.SECONDS))
      val b = Future(memo.getOrBuild(spark, "BB")("B"))
      try assert(Await.result(b, 10.seconds) == "B")
      finally release.countDown()
      assert(Await.result(a, 30.seconds) == "A")
    }
  }

  test("a throwing build leaves no entry and the next call rebuilds") {
    val memo = new SessionMemo[String]
    val builds = new AtomicInteger
    val err = intercept[IllegalStateException] {
      memo.getOrBuild(spark, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(err.getMessage == "boom")
    assert(memo.getOrBuild(spark, "k") { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get == 2)
    assert(memo.getOrBuild(spark, "k")(sys.error("a hit must not build")) == "ok")
  }

  test("a value that goes invalid is rebuilt once across concurrent observers") {
    final class Artifact { @volatile var live = true }
    val memo = new SessionMemo[Artifact]
    val builds = new AtomicInteger
    def get(): Artifact = memo.getOrBuild(spark, "k", (a: Artifact) => a.live) {
      builds.incrementAndGet(); Thread.sleep(100); new Artifact
    }
    val first = get()
    first.live = false
    val got = race(threads)(get())
    assert(builds.get == 2, "stale value must be rebuilt exactly once")
    assert(got.forall(_ eq got.head) && (got.head ne first) && got.head.live)
  }
}
