package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A snapshot store laid out by hand the way publishes wrote it before
  * every publish was bin-packed: epoch 1 holds each partition as one
  * file per write task of `df`'s own partitioning (so a range-split
  * source fragments every partition it spans), described by a `partv3`
  * manifest whose stats match the filesystem. Compaction specs build
  * their fragmented fixtures here, because a binned upsert writes a
  * partition below the target as one file. */
object LegacyStore {

  def fragmented(spark: SparkSession, store: String, df: DataFrame,
                 partitionCol: String): Unit = {
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new Path(store.stripSuffix("/") + "__legacy")
    df.write.partitionBy(partitionCol).parquet(staging.toString)
    fs.mkdirs(root)
    val lines = fs.listStatus(staging).filter(_.isDirectory)
      .sortBy(_.getPath.getName).map { st =>
        val name = st.getPath.getName
        val dest = new Path(new Path(root, name), "__e=1")
        fs.mkdirs(dest.getParent)
        require(fs.rename(st.getPath, dest), s"cannot move ${st.getPath} to $dest")
        val files = fs.listStatus(dest).filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        val rows = spark.read.parquet(dest.toString).count()
        s"partv3\t1\t${files.length}\t${files.map(_.getLen).sum}\t$rows\t$name"
      }
    fs.delete(staging, true)
    val manifest = ("epoch\t1" +: s"schema\t${df.schema.json}" +: lines.toSeq)
      .mkString("", "\n", "\n")
    val out = fs.create(new Path(root, "_GRAFT_SNAP_1"), false)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }
}
