package graft

/** Shared builder for the store-pipeline gate fixtures (q110/q112/
  * q114/q115/q116 — r17 review: four hand-kept copies of the same
  * tempdir + shutdown-hook + per-(JVM, sfDir) memo block). Each
  * fixture is a pure function of its events fixture, built exactly
  * once per (JVM, name, sfDir) and deleted at JVM exit.
  *
  * The memo holds FUTURES, not values: `computeIfAbsent` would run the
  * multi-minute Spark build inside the map's bin lock, serializing
  * UNRELATED fixtures that happen to share a hash bin when gate
  * queries evaluate concurrently (r17 review). Here the map mutation
  * is O(1); the winner builds outside any lock, losers await the same
  * future, and a FAILED build removes its future so a retry can run. */
object GateFixture {

  private val dirs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  def cached(name: String, sfDir: String)(build: java.nio.file.Path => String): String = {
    val key = name + "|" + PathKey(sfDir)
    val fresh = new java.util.concurrent.CompletableFuture[String]()
    val prior = dirs.putIfAbsent(key, fresh)
    val f =
      if (prior != null) prior
      else {
        try {
          val root = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory(name))
          fresh.complete(build(root))
        } catch {
          // NonFatal failures memoize into the future (losers see them)
          // and REMOVE the entry so a retry can rebuild. Fatal errors
          // (OutOfMemoryError, LinkageError) and interruption must NOT
          // be swallowed into an ordinary memoized failure (r17 ADVICE):
          // the future is still completed — a loser awaiting it must
          // never hang — but the winner rethrows the original, and an
          // InterruptedException re-sets the thread's interrupt status
          // before propagating.
          case e: InterruptedException =>
            fresh.completeExceptionally(e)
            dirs.remove(key, fresh)
            Thread.currentThread().interrupt()
            throw e
          case scala.util.control.NonFatal(e) =>
            fresh.completeExceptionally(e)
            dirs.remove(key, fresh)
          case e: Throwable =>
            fresh.completeExceptionally(e)
            dirs.remove(key, fresh)
            throw e
        }
        fresh
      }
    // get(), not join(): join is UNINTERRUPTIBLE, so a cancelled loser
    // thread would silently wait out the whole multi-minute build (r18
    // review); get lets the loser abort by throwing InterruptedException
    // — the cancellation signal itself. get() clears the interrupt flag
    // when it throws, so the loser re-sets it before propagating —
    // matching the winner-side convention (r18 ADVICE): callers above
    // (thread pools, Spark task reapers) read the flag, not the
    // exception type, to decide whether cancellation is in flight
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException if e.getCause != null =>
        throw e.getCause
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        throw e
    }
  }
}
