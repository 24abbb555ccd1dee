package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A path under /tmp that a query writes or reads, one per scale-factor
  * dir: `/tmp/graft_<stem>_<sf name>_<hash of the sf dir's absolute
  * path>_p<pid>`. The hash and pid keep two JVMs (a Bench beside a
  * Verify, two checkouts at one scale factor) off each other's
  * directories. `perJvm = false` drops them; that is only for a file
  * the DuckDB oracle reads after the writing JVM has exited, whose
  * static name the oracle SQL spells out. Every /tmp path a query
  * touches is declared in its module's [[QueryModule.tmp]]. */
class TmpPath(stem: String, val perJvm: Boolean = true) {
  def apply(dir: String): String = {
    val sf = new java.io.File(dir)
    val suffix = if (perJvm) s"_${sf.getAbsolutePath.hashCode.toHexString}_p${TmpPath.pid}" else ""
    s"/tmp/graft_${stem}_${sf.getName}$suffix"
  }

  /** Deletes the path and everything under it. */
  def drop(spark: SparkSession, dir: String): Unit = Fs.rm(spark, apply(dir))
}

object TmpPath {
  private val pid = ProcessHandle.current().pid()
}

/** A write-once query input: `build(spark, sfDir, path)` writes it at
  * `path`. The first [[ensure]] in a JVM deletes whatever is at the path
  * and builds, so no file from another JVM or an older code version is
  * ever read; later calls return the path from a per-JVM memo without a
  * filesystem call (a query calls `ensure` inside its timed build).
  * [[drop]] forgets the memo entry and deletes the path, so the next
  * `ensure` builds again. Bench builds a query's fixtures untimed
  * through [[Fixtures.prepare]] and drops them through
  * [[Fixtures.cleanup]]; Verify and the specs build them on first use. */
final class Fixture(stem: String, perJvm: Boolean = true)(
    build: (SparkSession, String, String) => Unit) extends TmpPath(stem, perJvm) {

  def ensure(spark: SparkSession, dir: String): String = {
    val p = apply(dir)
    Fixture.built.getOrElseUpdate(p, { Fs.rm(spark, p); build(spark, dir, p); true })
    p
  }

  override def drop(spark: SparkSession, dir: String): Unit = {
    Fixture.built.remove(apply(dir))
    super.drop(spark, dir)
  }
}

object Fixture {
  private val built = scala.collection.concurrent.TrieMap.empty[String, Boolean]
}

/** Filesystem helpers for fixture builders and table writers, through
  * the session's Hadoop configuration. */
object Fs {
  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def rm(spark: SparkSession, paths: String*): Unit = paths.foreach { p =>
    val hp = new Path(p)
    fs(spark, hp).delete(hp, true)
  }

  /** Creates (or truncates) an empty file. */
  def touch(spark: SparkSession, p: String): Unit = {
    val hp = new Path(p)
    fs(spark, hp).create(hp, true).close()
  }

  /** Writes `df` as ONE parquet FILE at `filePath`, for layouts whose
    * file NAME carries meaning (Hive original files `000000_0`, Hudi
    * base files named by fileId and instant), so a part file inside a
    * directory won't do: a single-task write to a scratch dir, sorted
    * within the file by `sortCols` if any, then a rename of the part
    * file. A driver-side rename of one bounded file. */
  def writeSingleFile(df: DataFrame, filePath: String, sortCols: String*): Unit = {
    val spark = df.sparkSession
    val tmp = new Path(filePath + "_tmp")
    val one = df.repartition(1)
    (if (sortCols.isEmpty) one else one.sortWithinPartitions(sortCols.head, sortCols.tail: _*))
      .write.mode("overwrite").parquet(tmp.toString)
    val f = fs(spark, tmp)
    val part = f.listStatus(tmp).map(_.getPath).filter(_.getName.startsWith("part-")).head
    f.rename(part, new Path(filePath))
    f.delete(tmp, true)
  }
}
