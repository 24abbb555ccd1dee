package graft

import java.nio.file.{Files, Paths}

/** The write-once rule every query input under /tmp follows. */
class FixtureSpec extends SparkSpec {

  /** A fixture whose build writes one file, counting its builds; dropped
    * after `body`, so no path of this JVM outlives the test. */
  private def withFixture(stem: String)(body: (Fixture, () => Int) => Unit): Unit = {
    var builds = 0
    val f = new Fixture(stem)((_, _, p) => {
      builds += 1
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "data"), "built")
    })
    try body(f, () => builds) finally f.drop(spark, sf0001)
  }

  test("Fixture: two ensure calls build once") {
    withFixture("fixture_spec_once") { (f, builds) =>
      val p = f.ensure(spark, sf0001)
      assert(f.ensure(spark, sf0001) == p)
      assert(builds() == 1)
      assert(Files.exists(Paths.get(p, "data")))
    }
  }

  test("Fixture: the first ensure deletes a stray file at the path before building") {
    withFixture("fixture_spec_stray") { (f, builds) =>
      val p = f(sf0001)
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "_built"), "")
      assert(f.ensure(spark, sf0001) == p)
      assert(builds() == 1)
      assert(!Files.exists(Paths.get(p, "_built")))
    }
  }

  test("Fixture: drop deletes the path, and the next ensure rebuilds") {
    withFixture("fixture_spec_drop") { (f, builds) =>
      val p = f.ensure(spark, sf0001)
      f.drop(spark, sf0001)
      assert(!Files.exists(Paths.get(p)))
      f.ensure(spark, sf0001)
      assert(builds() == 2)
      assert(Files.exists(Paths.get(p, "data")))
    }
  }

  test("Fixtures.cleanup drops the per-JVM nested ORC file and keeps the static parquet file") {
    import graft.sources.NestedParquet
    // the DuckDB oracle reads the static file after the writing JVM
    // exits; a bench run's cleanup must not delete it under a replay
    val static = NestedParquet.nested.ensure(spark, sf0001)
    val orc = NestedParquet.orc.ensure(spark, sf0001)
    Fixtures.cleanup("src_nested_parquet")(spark, sf0001)
    Fixtures.cleanup("src_nested_orc")(spark, sf0001)
    assert(Files.exists(Paths.get(static)))
    assert(!Files.exists(Paths.get(orc)))
  }

  test("Fs.writeSingleFile: a refused rename throws and keeps the staged parquet") {
    RefuseRenameFs.register(spark)
    val dir = tempDir("graft_fs_refuse")
    intercept[java.io.IOException] {
      Fs.writeSingleFile(spark.range(3).toDF("id"), s"refuse:$dir/one.parquet")
    }
    assert(!Files.exists(Paths.get(dir, "one.parquet")))
    assert(Files.list(Paths.get(dir, "one.parquet_tmp")).anyMatch(_.getFileName.toString.startsWith("part-")))
  }

  test("Fs.writeAtomic: replaces the target whole; a refused rename throws and leaks no temp file") {
    val dir = tempDir("graft_fs_atomic")
    val local = new org.apache.hadoop.fs.Path(s"$dir/hint")
    val fs = local.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Fs.writeAtomic(fs, local, "1")
    Fs.writeAtomic(fs, local, "2")
    assert(Files.readString(Paths.get(dir, "hint")) == "2")
    RefuseRenameFs.register(spark)
    val refused = new org.apache.hadoop.fs.Path(s"refuse:$dir/hint")
    intercept[java.io.IOException] {
      Fs.writeAtomic(refused.getFileSystem(spark.sparkContext.hadoopConfiguration), refused, "3")
    }
    assert(Files.list(Paths.get(dir)).noneMatch(_.getFileName.toString.endsWith(".tmp")))
  }
}

/** The local filesystem under its own scheme, `refuse:`, whose rename
  * returns false — as HDFS does for a missing parent or an existing
  * target — except inside a `_temporary/` staging tree, so that Spark's
  * own output committer still works. */
class RefuseRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuse:///")
  override def getScheme: String = "refuse"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    src.toString.contains("/_temporary/") && super.rename(src, dst)
}

object RefuseRenameFs {
  /** Maps the `refuse:` scheme to this filesystem in the session's
    * Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.refuse.impl", classOf[RefuseRenameFs].getName)
}
