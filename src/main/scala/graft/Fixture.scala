package graft

import org.apache.hadoop.fs.{FileSystem, Path}
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
    rename(f, part, new Path(filePath))
    f.delete(tmp, true)
  }

  /** `fs.rename` that throws when the filesystem refuses (returns
    * false), so no caller goes on to delete the source or mark the
    * output complete without it. */
  def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename refused: $from -> $to")

  /** Writes `body` to `p` whole, the HadoopTableOperations device: a
    * unique hidden temp file beside `p`, then a rename, so a reader —
    * a streaming source polls its table's version hint every trigger —
    * never sees a half-written or empty file. Rename FIRST (most
    * filesystems refuse to rename onto an existing path) and only on
    * refusal delete `p` and rename again: a JVM that dies before the
    * rename leaves the old `p` intact, and the window without `p` is
    * the delete-to-retry gap, which pollers retry. An existing `p` is
    * replaced. The temp file never outlives a failed write. */
  def writeAtomic(fs: FileSystem, p: Path, body: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    var renamed = false
    try {
      val out = fs.create(tmp, false)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
      if (!fs.rename(tmp, p)) { fs.delete(p, false); rename(fs, tmp, p) }
      renamed = true
    } finally if (!renamed) fs.delete(tmp, false)
  }

  /** Creates the empty file `p` only if it is absent: the race decider
    * for the Hudi writer lock, the Hudi `.requested` marker and the next
    * Iceberg metadata version. Hadoop's RawLocalFileSystem implements
    * `create(overwrite = false)` as exists-check-then-create, a window
    * two same-box writers can both slip through, so on a local FS this
    * goes through NIO `Files.createFile` (O_EXCL, atomic in the kernel);
    * on HDFS and object stores `create(overwrite = false)` is atomic
    * natively. Returns false ONLY when the path already exists: a
    * transient I/O failure surfaces as itself, since reading it as
    * "already exists" would tell a lock's caller to delete a lock a
    * live writer may hold. */
  def createExclusive(fs: FileSystem, p: Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case _ =>
      try { fs.create(p, /* overwrite = */ false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException =>
          // some stores signal a create collision as a plain
          // IOException (incl. a RemoteException-wrapped
          // FileAlreadyExistsException): trust an exists re-check —
          // if the path is there, the collision reading is correct;
          // if not, the failure propagates as what it was
          if (try fs.exists(p) catch { case _: java.io.IOException => throw e })
            false
          else throw e
      }
  }
}
