package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Split planning shared by the sync-marker container readers (Avro,
  * RCFile, SequenceFile): every file under the path with the reader's
  * extension is tiled into byte ranges of `split_bytes` (default
  * 64 MiB), and each range is one partition. */
object SplitFiles {
  val DefaultSplitBytes: Long = 64L * 1024 * 1024

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft container sources require .load(path)")
    p
  }

  /** The `split_bytes` option, or `default` when unset. */
  def splitBytes(options: java.util.Map[String, String],
                 default: Long = DefaultSplitBytes): Long =
    Option(options.get("split_bytes")).map(_.toLong).getOrElse(default)

  /** Deterministic (name-sorted) listing of the files ending in `ext`,
    * so partition planning is stable across runs. */
  def listStatus(path: String, ext: String): Seq[FileStatus] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(ext))
      .sortBy(_.getPath.getName)
  }

  /** Ranges of `splitBytes` tiling every file; an empty file still
    * gets one (empty) range. */
  def plan(path: String, ext: String, splitBytes: Long): Array[InputPartition] = {
    require(splitBytes > 0, s"split_bytes must be positive, got $splitBytes")
    listStatus(path, ext).flatMap { st =>
      val len = st.getLen
      (0L until math.max(1L, (len + splitBytes - 1) / splitBytes)).map(i =>
        FileRange(st.getPath.toString, i * splitBytes, math.min(len, (i + 1) * splitBytes)))
    }.toArray
  }
}

/** One byte range [start, end) of one container. A reader syncs to the
  * first marker after `start` and reads until its position passes
  * `end`; ranges tile the file, so every block or row group lands in
  * exactly one partition. */
case class FileRange(file: String, start: Long, end: Long) extends InputPartition
