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
}
