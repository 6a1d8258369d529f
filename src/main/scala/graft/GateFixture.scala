package graft

/** The one per-(JVM, sfDir) fixture memo. Every scratch fixture under
  * `src/main` that is a pure function of a read-only fixture dir — the
  * snapshot-store gates (q47, q110, q112, q114–q118), the derived
  * layouts in `PartitionedLayout` (partitioned, clustered, text, sketch
  * and histogram copies) and the streaming-oracle fixtures (ordered
  * slices, the docs copy, the q102/q104 maintenance stores, the l55
  * seed and dropped stores) — builds through [[cached]]: exactly once
  * per (JVM, name, sfDir), into a fresh temp dir deleted at JVM exit.
  * Two memos stay outside it on purpose: `PartitionedLayout`'s bucketed
  * table names, which live in one session's catalog and are
  * re-validated per session, and `StreamingOracle`'s directory-metadata
  * cache, which reads a directory and builds nothing.
  *
  * The memo holds FUTURES, not values: `computeIfAbsent` would run the
  * multi-minute Spark build inside the map's bin lock, serializing
  * UNRELATED fixtures that happen to share a hash bin when gate
  * queries evaluate concurrently. Here the map mutation is O(1); the
  * winner builds outside any lock, losers await the same future, and a
  * FAILED build removes its future so a retry can run. */
object GateFixture {

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Any]]()

  /** The value `build` returned for (`name`, `sfDir`) in this JVM,
    * building it on first use. `build` receives an empty scratch root
    * that is deleted at JVM exit. `name` must belong to one fixture
    * only: a second build under the same name is never run, and its
    * caller gets the first build's value. */
  def cached[T](name: String, sfDir: String)(build: java.nio.file.Path => T): T = {
    val key = name + "|" + PathKey(sfDir)
    val fresh = new java.util.concurrent.CompletableFuture[Any]()
    val prior = memo.putIfAbsent(key, fresh)
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
          // be swallowed into an ordinary memoized failure: the future
          // is still completed — a loser awaiting it must never hang —
          // but the winner rethrows the original, and an
          // InterruptedException re-sets the thread's interrupt status
          // before propagating.
          case e: InterruptedException =>
            fresh.completeExceptionally(e)
            memo.remove(key, fresh)
            Thread.currentThread().interrupt()
            throw e
          case scala.util.control.NonFatal(e) =>
            fresh.completeExceptionally(e)
            memo.remove(key, fresh)
          case e: Throwable =>
            fresh.completeExceptionally(e)
            memo.remove(key, fresh)
            throw e
        }
        fresh
      }
    // get(), not join(): join is UNINTERRUPTIBLE, so a cancelled loser
    // thread would silently wait out the whole multi-minute build; get
    // lets the loser abort by throwing InterruptedException — the
    // cancellation signal itself. get() clears the interrupt flag when
    // it throws, so the loser re-sets it before propagating — matching
    // the winner-side convention: callers above (thread pools, Spark
    // task reapers) read the flag, not the exception type, to decide
    // whether cancellation is in flight
    try f.get().asInstanceOf[T]
    catch {
      case e: java.util.concurrent.ExecutionException if e.getCause != null =>
        throw e.getCause
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        throw e
    }
  }
}
