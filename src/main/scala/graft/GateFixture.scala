package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one per-(JVM, sfDir) fixture memo. Every scratch fixture under
  * `src/main` that is a pure function of a read-only fixture dir builds
  * through [[cached]]: exactly once per (JVM, name, sfDir), into a fresh
  * temp dir deleted at JVM exit. That covers the snapshot-store gates
  * (q47, q110, q112, q114–q118), the derived layouts in
  * `PartitionedLayout` (partitioned, clustered, text, sketch and
  * histogram copies), the streaming-oracle fixtures (ordered slices, the
  * docs copy, the q102/q104 maintenance stores, the l55 seed and dropped
  * stores) and the derived tables kept through [[table]]: the eight
  * `SigStore` kinds and the q57/q63 exact-quartile store. Two memos stay
  * outside it on purpose: `PartitionedLayout`'s bucketed table names,
  * which live in one session's catalog and are re-validated per session,
  * and `StreamingOracle`'s directory-metadata cache, which reads a
  * directory and builds nothing. `Tables.table`'s per-session scan plans
  * hold no computed data.
  *
  * A name belongs to one call site: the first build's site is recorded
  * with its key, and another site asking for the same key fails with
  * both sites named instead of receiving the other fixture's value.
  *
  * The memo holds FUTURES, not values: `computeIfAbsent` would run the
  * multi-minute Spark build inside the map's bin lock, serializing
  * UNRELATED fixtures that happen to share a hash bin when gate
  * queries evaluate concurrently. Here the map mutation is O(1); the
  * winner builds outside any lock, losers await the same future, and a
  * FAILED build removes its future so a retry can run. */
object GateFixture {

  private final case class Entry(site: String, value: java.util.concurrent.CompletableFuture[Any])

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private val walker = StackWalker.getInstance()
  private val own = Set(getClass.getName, getClass.getName.stripSuffix("$"))

  /** The first stack frame outside this object: the source line that
    * asked for the fixture. */
  private def callSite(): String =
    walker.walk(frames => frames
      .filter(f => !own(f.getClassName))
      .findFirst().map[String](_.toString).orElse("unknown"))

  /** The value `build` returned for (`name`, `sfDir`) in this JVM,
    * building it on first use. `build` receives an empty scratch root
    * that is deleted at JVM exit. `name` belongs to one call site: a
    * call from another site while the key holds a value (or a build in
    * flight) throws `IllegalStateException` naming both sites. */
  def cached[T](name: String, sfDir: String)(build: java.nio.file.Path => T): T = {
    val key = name + "|" + PathKey(sfDir)
    val site = callSite()
    val fresh = Entry(site, new java.util.concurrent.CompletableFuture[Any]())
    val prior = memo.putIfAbsent(key, fresh)
    if (prior != null && prior.site != site)
      throw new IllegalStateException(
        s"fixture '$name' for $sfDir is built at ${prior.site} and asked for at $site; " +
          "give each fixture its own name")
    val f =
      if (prior != null) prior.value
      else {
        try {
          val root = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory(name))
          fresh.value.complete(build(root))
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
            fresh.value.completeExceptionally(e)
            memo.remove(key, fresh)
            Thread.currentThread().interrupt()
            throw e
          case scala.util.control.NonFatal(e) =>
            fresh.value.completeExceptionally(e)
            memo.remove(key, fresh)
          case e: Throwable =>
            fresh.value.completeExceptionally(e)
            memo.remove(key, fresh)
            throw e
        }
        fresh.value
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

  /** A derived table kept as parquet under the fixture root: `derive`
    * runs and is written once per (JVM, `name`, `sfDir`), and every call
    * returns a new read of those files. No plan, broadcast relation,
    * shuffle file or cached block of the derivation outlives the build,
    * and the table needs no lineage to survive executor loss. The schema
    * is kept with the path, so a read infers nothing and runs no job. */
  def table(spark: SparkSession, name: String, sfDir: String)(derive: => DataFrame): DataFrame = {
    val (path, schema) = cached[(String, StructType)](name, sfDir) { root =>
      val df = derive
      val path = root.resolve("table").toString
      df.write.parquet(path)
      (path, df.schema)
    }
    spark.read.schema(schema).parquet(path)
  }
}
