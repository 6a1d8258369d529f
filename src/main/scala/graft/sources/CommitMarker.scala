package graft.sources

import org.apache.spark.sql.SparkSession

/** The epoch-claim protocol of keyed parquet stores: `_GRAFT_EPOCH_{n}`
  * files in the store root, claimed by an atomic create-exclusive.
  * [[graft.etl.SnapshotMerge]] uses a claim to hand every publish a
  * UNIQUE physical `__e={n}` version-directory number; its manifest
  * rename, not the claim, is the commit point. */
object CommitMarker {

  private val EpochPrefix = "_GRAFT_EPOCH_"

  /** A second writer raced this one to the store's next epoch — its
    * publish aborted before any committed state changed. Rerun to
    * apply its changes on top of the winner's. */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Parsed epoch numbers of the store's `_GRAFT_EPOCH_*` files.
    * Foreign files sharing the prefix (a tool's `.bak`, a mid-copy
    * `._COPYING_`) are SKIPPED, not fatal — one stray file must never
    * wedge every future merge on the store. */
  private def epochsOf(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(EpochPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(EpochPrefix).toLong).toOption)

  /** Highest claimed epoch of the store (0 when none). */
  def currentEpoch(spark: SparkSession, store: String): Long = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    epochsOf(fs, p).foldLeft(0L)(math.max)
  }

  /** Claim epoch `base + 1`, where `base` is a [[currentEpoch]] the
    * caller read earlier: the atomic `create(overwrite = false)` of
    * `_GRAFT_EPOCH_{base+1}` is the same create-exclusive primitive
    * Delta's log commit rides. If any other writer claimed that number
    * after the base read, the file exists and the claim throws
    * [[ConcurrentWriteException]]. A writer that crashes after claiming
    * leaves only a stale epoch file; the next claim moves past it.
    *
    * FILESYSTEM SCOPE: the guarantee is exactly as strong as
    * `create(overwrite = false)` exclusivity — atomic on HDFS, local,
    * ABFS; NOT on raw S3A, whose create is a HEAD-then-PUT race (the
    * reason Delta needs an external LogStore on S3). On such stores
    * the claim still detects every non-simultaneous conflict, but two
    * truly simultaneous claimants can both win — deploy an S3 store
    * behind a consistent committer/coordination layer if that matters.
    *
    * The winner prunes epoch files older than its base via ONE
    * directory listing (bounded metadata, never data — and never
    * O(historic epochs) of per-file probes). */
  def claimEpochFrom(spark: SparkSession, store: String, base: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val next = base + 1
    val p = new org.apache.hadoop.fs.Path(store, s"$EpochPrefix$next")
    val fs = p.getFileSystem(conf)
    try fs.create(p, false).close()
    catch {
      // only EXISTENCE collisions are a concurrent writer; any other
      // IO fault (network, permissions, quota) must surface as itself,
      // not as a lie about another writer
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw concurrent(store, base, next, e)
      case e: java.nio.file.FileAlreadyExistsException =>
        throw concurrent(store, base, next, e)
      // plain-IOException filesystems: classify by PROBING the claim
      // file (r15 ADVICE — message substrings are locale-dependent and
      // a lease error containing "exists" would lie about a concurrent
      // writer); the message match is only the probe-failed fallback
      case e: java.io.IOException
          if (try fs.exists(p) catch {
            case _: Throwable =>
              Option(e.getMessage).map(_.toLowerCase).exists(m =>
                m.contains("exist") && !m.contains("not exist") &&
                  !m.contains("no such"))
          }) =>
        throw concurrent(store, base, next, e)
    }
    epochsOf(fs, new org.apache.hadoop.fs.Path(store))
      .filter(_ < base)
      .foreach(e => fs.delete(
        new org.apache.hadoop.fs.Path(store, s"$EpochPrefix$e"), false))
    next
  }

  private def concurrent(store: String, base: Long, next: Long,
                         e: Exception): ConcurrentWriteException =
    new ConcurrentWriteException(
      s"another writer committed epoch $next of $store after this " +
        s"writer read epoch $base — this MERGE aborted before touching " +
        s"any partition; rerun to apply it on top of the winner's " +
        s"state (${e.getMessage})")
}
