package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction — the OPTIMIZE-style operational pass every
  * long-lived table needs: streaming sinks, per-batch upserts and
  * over-parallel writers leave thousands of KB-sized parquet files, and
  * at 100 TB the resulting footer/open/seek overhead (plus driver-side
  * listing and scheduling one task per tiny split) dominates scans long
  * before the data does.
  *
  * Shape: plan from FILE METADATA ONLY (one listing — no data read to
  * decide), rewrite ONLY the files below `smallBytes` into
  * ceil(total/targetBytes) files, leave the already-right-sized files
  * untouched, and commit in two steps biased toward duplication over
  * loss: new files land in a `.compact-tmp` sibling, are MOVED into the
  * directory first (rename return values checked), and the small
  * originals are deleted last — a crash mid-commit leaves a reader
  * seeing some rows twice, never missing them (a table format's
  * manifest swap is what would make this atomic; plain-directory
  * parquet has no such primitive). The rewrite itself is one
  * `spark.read.parquet(smallFiles).repartition(n).write` — fully
  * parallel, no shuffle beyond the explicit repartition.
  *
  * Returns (files_before, files_after, bytes_compacted).
  */
object Compaction {

  def compact(spark: SparkSession, dir: String,
              smallBytes: Long = 8L << 20,
              targetBytes: Long = 128L << 20): (Long, Long, Long) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val small = files.filter(_.getLen < smallBytes)
    if (small.size < 2) return (files.size.toLong, files.size.toLong, 0L)
    val totalSmall = small.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalSmall.toDouble / targetBytes).toInt)
    val tmp = new Path(dir, ".compact-tmp")
    fs.delete(tmp, true)
    spark.read.parquet(small.map(_.getPath.toString): _*)
      .repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    // commit order: move the compacted files IN first, delete the small
    // originals LAST. A crash mid-commit then leaves readers seeing
    // duplicate rows transiently (move done, deletes pending) — never
    // missing data, which the delete-first order risked (rows visible
    // only under the hidden `.compact-tmp`, which parquet readers skip).
    val moved = fs.listStatus(tmp).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    moved.zipWithIndex.foreach { case (f, i) =>
      val dst = new Path(dir, s"compacted-$i-${f.getPath.getName}")
      require(fs.rename(f.getPath, dst), s"rename ${f.getPath} -> $dst failed")
    }
    small.foreach(f => fs.delete(f.getPath, false))
    fs.delete(tmp, true)
    val after = files.size - small.size + moved.size
    (files.size.toLong, after.toLong, totalSmall)
  }
}
