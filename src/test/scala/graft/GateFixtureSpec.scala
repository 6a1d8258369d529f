package graft

/** The gate-fixture memo: one build per (name, sfDir), concurrent
  * callers share the winner's future (the build runs OUTSIDE the map's
  * bin lock — r17 review), a FAILED build unblocks a retry, and the
  * failure surfaces as its own exception, not a CompletionException
  * wrapper. */
class GateFixtureSpec extends SparkSuite {

  test("one build per key; failures rethrow unwrapped and allow a retry; concurrent callers share the winner") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"gfspec_${System.nanoTime()}"
    def ok(): String = GateFixture.cached(key, "/sf") { root =>
      builds.incrementAndGet(); root.toString
    }
    val first = ok()
    assert(ok() === first && builds.get() === 1, "memoized after the first build")

    // a failing build rethrows ITS exception and does not poison the key
    val failKey = s"gfspec_fail_${System.nanoTime()}"
    var attempts = 0
    val boom = intercept[IllegalStateException] {
      GateFixture.cached(failKey, "/sf") { _ =>
        attempts += 1; throw new IllegalStateException("fixture build failed")
      }
    }
    assert(boom.getMessage === "fixture build failed",
      "the build's own exception, not a CompletionException wrapper")
    val retried = GateFixture.cached(failKey, "/sf") { root =>
      attempts += 1; root.toString
    }
    assert(attempts === 2 && retried.nonEmpty,
      "a failed build must unblock a retry instead of caching the failure")

    // concurrent callers of one fresh key: exactly one build runs, all
    // callers get its value
    val raceKey = s"gfspec_race_${System.nanoTime()}"
    val raceBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      val t = new Thread(() => {
        gate.await()
        results.add(GateFixture.cached(raceKey, "/sf") { root =>
          raceBuilds.incrementAndGet()
          Thread.sleep(50) // hold the build open so racers must wait
          root.toString
        })
      })
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join(30000))
    assert(raceBuilds.get() === 1, "exactly one concurrent build")
    assert(results.size === 8 && results.iterator().next() != null)
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet.size === 1, "all callers share the winner's value")
  }

  test("fatal build errors propagate unwrapped and stay retryable; interruption restores the interrupt flag") {
    // a fatal error (OutOfMemoryError et al.) must NOT be memoized into
    // an ordinary failure (r17 ADVICE): the winner rethrows the ORIGINAL
    // instance, and the key stays retryable
    val key = s"gfspec_fatal_${System.nanoTime()}"
    val oom = new OutOfMemoryError("synthetic — thrown, not a real OOM")
    val got = intercept[OutOfMemoryError] {
      GateFixture.cached(key, "/sf") { _ => throw oom }
    }
    assert(got eq oom, "the original fatal error, not a wrapper")
    val retried = GateFixture.cached(key, "/sf")(_.toString)
    assert(retried.nonEmpty, "a fatal failure must unblock a retry")

    // an interrupted build re-sets the thread's interrupt status before
    // propagating (a swallowed interrupt loses the cancellation signal)
    val ikey = s"gfspec_intr_${System.nanoTime()}"
    intercept[InterruptedException] {
      GateFixture.cached(ikey, "/sf") { _ => throw new InterruptedException("stop") }
    }
    assert(Thread.interrupted(), // reads AND clears — leaves the test thread clean
      "the interrupt flag must be restored on the way out")
  }

  test("a tuple-valued fixture is built once and every caller gets the same pair") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"gfspec_pair_${System.nanoTime()}"
    def pair(): (String, String) = GateFixture.cached(key, "/sf") { root =>
      builds.incrementAndGet()
      (root.resolve("a").toString, root.resolve("b").toString)
    }
    val first = pair()
    assert(pair() === first && builds.get() === 1, "memoized after the first build")
    assert(first._1.endsWith("a") && first._2.endsWith("b"))
  }

  test("a slow build under one key does not block a build under another key") {
    val slowKey = s"gfspec_slow_${System.nanoTime()}"
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      GateFixture.cached(slowKey, "/sf") { root =>
        started.countDown()
        release.await()
        root.toString
      }
      ()
    })
    slow.start()
    try {
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the slow build must start")
      // the other key's build runs on its own thread so a blocked call
      // fails the test instead of hanging it
      val other = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        GateFixture.cached(s"gfspec_fast_${System.nanoTime()}", "/sf")(_.toString))
      val got = other.get(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(got.nonEmpty && slow.isAlive,
        "the second key built while the first key's build was still running")
    } finally {
      release.countDown()
      slow.join(30000)
    }
  }

  test("a second call site under a used name fails loudly, naming both sites") {
    val key = s"gfspec_site_${System.nanoTime()}"
    def first(): String = GateFixture.cached(key, "/sf")(_.toString)
    def second(): Int = GateFixture.cached(key, "/sf")(_ => 42)
    val built = first()
    assert(first() === built, "the same site keeps reading its own fixture")
    val e = intercept[IllegalStateException](second())
    assert(e.getMessage.contains(key), e.getMessage)
    assert(e.getMessage.contains("GateFixtureSpec.scala:") &&
      e.getMessage.split("GateFixtureSpec.scala:").length === 3,
      s"both call sites must be named: ${e.getMessage}")
    // the same name under another sfDir is another fixture
    assert(GateFixture.cached(key, "/other")(_ => 7) === 7)
  }
}
