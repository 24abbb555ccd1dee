package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.plans.{GraftExtensions, GraftFunctions}

class FunctionsSpec extends SparkSpec {

  test("fnv64 matches the FNV-1 64-bit spec on known vectors") {
    // FNV-1 (multiply-then-xor): h0 = offset basis.
    assert(HashImpl.fnv64(Array.emptyByteArray) == HashImpl.FnvSeed)
    val expectA = (HashImpl.FnvSeed * HashImpl.FnvPrime) ^ 'a'.toLong
    assert(HashImpl.fnv64("a".getBytes("UTF-8")) == expectA)
    // deterministic & byte-sensitive
    assert(HashImpl.fnv64("abc".getBytes) == HashImpl.fnv64("abc".getBytes))
    assert(HashImpl.fnv64("abc".getBytes) != HashImpl.fnv64("abd".getBytes))
  }

  test("murmur2_64 matches the published murmur_hash test vector and tail/block behavior") {
    // authoritative vector from the reference's own acceptance test
    // (expr-test.cc:5499: murmur_hash('hello world') on seed 0)
    assert(HashImpl.murmur2_64(UTF8String.fromString("hello world")) == -3190198453633110066L)
    // empty input: h = seed ^ 0 run through finalization only
    val emptyExpected = {
      var h = 0L
      h ^= h >>> HashImpl.MurmurR; h *= HashImpl.MurmurPrime; h ^= h >>> HashImpl.MurmurR
      h
    }
    assert(HashImpl.murmur2_64(Array.emptyByteArray, 0L) == emptyExpected)
    // 8-byte-block boundary sensitivity: 7, 8, 9 bytes all distinct
    val v = Seq("1234567", "12345678", "123456789")
      .map(s => HashImpl.murmur2_64(s.getBytes("UTF-8"), 0L))
    assert(v.distinct.length == 3)
  }

  test("fingerprint64 equals an independent min-of-k-gram reference implementation") {
    // straightforward O(n*k) reference: min over polynomial hashes of
    // every 8-byte gram (same B=257 base, no rolling update)
    def reference(str: String, k: Int): Long = {
      val bytes = str.getBytes("UTF-8")
      if (bytes.isEmpty) return 0L
      val kk = math.min(k, bytes.length)
      (0 to bytes.length - kk).map { i =>
        var h = 0L
        for (j <- i until i + kk) h = h * 257L + (bytes(j) & 0xffL)
        h
      }.min
    }
    for (str <- Seq("the quick brown fox jumps over the lazy dog", "ab", "",
      "aaaaaaaaaaaaaaaa", "sort merge join hash scan filter")) {
      assert(HashImpl.fingerprint64(UTF8String.fromString(str), 8) == reference(str, 8), str)
    }
  }

  test("simhash: similar token sets are Hamming-close, disjoint ones are not") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark sql query engine fast scan filter join"),
      (2L, "spark sql query engine fast scan filter merge"), // 1 token differs
      (3L, "zebra yak xylophone walrus vulture toucan stork")
    ).toDF("id", "text")
      .select(col("id"), call_function("simhash64", split(col("text"), " ")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = HashImpl.hamming64(m(1L), m(2L))
    val far = HashImpl.hamming64(m(1L), m(3L))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16)
  }

  test("cosine_sim: orthogonal=0, parallel=1, zero vector=0") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(2f, 4f)),
      (Array(0f, 0f), Array(1f, 1f))
    ).toDF("a", "b").select(call_function("cosine_sim", col("a"), col("b")).as("c"))
    val out = df.collect().map(_.getDouble(0))
    assert(math.abs(out(0)) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(out(2) == 0.0)
  }

  test("custom expressions survive whole-stage codegen over real data") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = docs.selectExpr("fnv_hash(text) AS h", "fingerprint64(text) AS fp",
      "simhash64(split(lower(text), ' ')) AS sh",
      "zorder64(doc_id, n_chars) AS zk")
    assert(out.count() > 0)
    // interpreted vs codegen agreement
    val cg = out.orderBy("h").limit(5).collect()
    SparkSpec.withConf("spark.sql.codegen.wholeStage" -> "false") {
      val interp = out.orderBy("h").limit(5).collect()
      assert(cg.sameElements(interp))
    }
  }

  test("JaccardPrefilter rule adds implied size checks without changing results") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    val pairs = docs.select(col("doc_id"),
      graft.pipeline.Dedup.hashedShingles(col("text")).as("a"),
      graft.pipeline.Dedup.hashedShingles(substring(col("text"), 1, 60)).as("b"))
    val filtered = pairs.filter(expr("jaccard_sorted(a, b) >= 0.2"))
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(opt.contains("size("), s"prefilter missing from plan:\n$opt")
    // equivalence vs a driver-side recomputation of the same predicate
    val expected = pairs.collect().count { r =>
      val a = r.getAs[scala.collection.Seq[Long]]("a").toArray
      val b = r.getAs[scala.collection.Seq[Long]]("b").toArray
      val common = a.toSet.intersect(b.toSet).size
      common.toDouble / (a.length + b.length - common) >= 0.2
    }
    assert(filtered.count() == expected && expected > 0)
  }

  test("GraftSession: extension installs functions, rule, strategy; settings pinned") {
    // every graft function resolves from SQL text, with no register call
    GraftFunctions.all.foreach { case (name, _, _) =>
      val described = spark.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(described.contains(s"Function: $name") && described.contains("Class: graft"),
        s"$name does not resolve: ${described.mkString(" | ")}")
    }
    // a Jaccard filter gets the injected prefilter, an as-of join plans
    // through the injected strategy, and neither needs the runtime hooks
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
      .select(graft.pipeline.Dedup.hashedShingles(col("text")).as("a"),
        graft.pipeline.Dedup.hashedShingles(substring(col("text"), 1, 60)).as("b"))
      .filter(expr("jaccard_sorted(a, b) >= 0.2"))
    assert(docs.count() > 0)
    assert(docs.queryExecution.optimizedPlan.toString.contains("size("))
    val asof = SparkEntry.queries("asof_join_events_exec")(spark, sf0001)
    assert(asof.count() > 0)
    assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
    // the effective settings: one value each, the AQE trio from Spark's defaults
    import org.apache.spark.sql.internal.SQLConf
    val conf = spark.sessionState.conf
    val ctx = spark.sparkContext.getConf
    assert(ctx.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    assert(conf.sessionLocalTimeZone == "UTC")
    assert(conf.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
    assert(conf.numShufflePartitions == 4)
    assert(ctx.get("spark.cleaner.periodicGC.interval") == "1min")
    assert(!ctx.getBoolean("spark.ui.enabled", defaultValue = true))
    Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED, SQLConf.COALESCE_PARTITIONS_ENABLED,
        SQLConf.SKEW_JOIN_ENABLED, SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST).foreach { e =>
      assert(conf.getConf(e), e.key)
      assert(!ctx.contains(e.key), s"${e.key} is set explicitly; it should be Spark's default")
    }
  }

  test("bounded_set: equals sort_array(collect_set) under the cap, truncates above it") {
    // groups: g=0 has 3 distinct values (< cap), g=1 has 60 (> cap=51),
    // duplicates included to exercise set semantics across partitions
    val rows = (0 until 60).map(i => (1L, i.toLong)) ++
      Seq((0L, 7L), (0L, 3L), (0L, 7L), (0L, 11L)) ++
      (0 until 60).map(i => (1L, i.toLong)) // full duplicate pass
    val df = spark.createDataFrame(rows).toDF("g", "v").repartition(4)
    val got = df.groupBy("g")
      .agg(expr("bounded_set(v, 51)").as("ids"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Long]]("ids").toList).toMap
    // under the cap: complete distinct set, sorted ascending
    assert(got(0L) == List(3L, 7L, 11L))
    // above the cap: the 51 SMALLEST distinct values, sorted (any group
    // over the cap is discarded by callers — determinism still holds)
    assert(got(1L) == (0L until 51L).toList)
    // bit-identical to the unbounded form wherever the group fits the cap
    val reference = df.filter(col("g") === 0L).groupBy("g")
      .agg(sort_array(collect_set(col("v"))).as("ids"))
      .collect().head.getAs[scala.collection.Seq[Long]]("ids").toList
    assert(got(0L) == reference)
  }

  test("zorder64: interleave vectors, inverse round-trip, and 2-D locality") {
    import graft.functions.ZOrderImpl.{interleave, spread}
    // pinned vectors: a on odd bits, b on even
    assert(interleave(0L, 0L) == 0L)
    assert(interleave(1L, 0L) == 2L)
    assert(interleave(0L, 1L) == 1L)
    assert(interleave(0xFFFFL, 0L) == 0xAAAAAAAAL)
    assert(interleave(0L, 0xFFFFL) == 0x55555555L)
    assert(interleave(5L, 3L) == 39L)
    assert(interleave(0xFFFFFFFFL, 0xFFFFFFFFL) == -1L) // all 64 bits set
    // spread is injective on 32-bit inputs → interleave is a bijection
    val rnd = new scala.util.Random(7)
    val samples = Seq.fill(2000)(rnd.nextInt().toLong & 0xFFFFFFFFL)
    assert(samples.map(spread).distinct.size == samples.distinct.size)
    // locality: within an 8×8 tile the Morton range is exactly the tile
    // (keys of a 2^k-aligned tile are contiguous) — the property file
    // skipping relies on
    val tile = for (a <- 16L until 24L; b <- 8L until 16L) yield interleave(a, b)
    assert(tile.max - tile.min == 63L && tile.distinct.size == 64)
  }

  test("fn_env emits a well-formed RFC-4122 v4 uuid alongside env facts") {
    val row = SparkEntry.queries("fn_env")(spark, sf0001).collect().head
    assert(row.getAs[Boolean]("uuid_v4_shape"))
    assert(row.getAs[String]("major_version") == "4")
  }

  test("iceberg transforms match the public table-spec vectors") {
    // Iceberg spec Appendix B: murmur3_x86_32 of little-endian int64(34)
    // and of UTF-8 "iceberg"
    assert(IcebergImpl.hashLong(34L) == 2017239379)
    assert(IcebergImpl.hashString(UTF8String.fromString("iceberg")) == 1210000089)
    assert(IcebergImpl.bucketLong(34L, 16) == 2017239379 % 16)
    assert(IcebergImpl.bucketString(UTF8String.fromString("iceberg"), 16) == 1210000089 % 16)
    // truncate floors toward -inf for integers, code-point prefix for strings
    assert(IcebergImpl.truncateLong(17L, 10L) == 10L)
    assert(IcebergImpl.truncateLong(-1L, 10L) == -10L)
    assert(IcebergImpl.truncateLong(-10L, 10L) == -10L)
    assert(IcebergImpl.truncateString(UTF8String.fromString("iceberg"), 3).toString == "ice")
    assert(IcebergImpl.truncateString(UTF8String.fromString("ab"), 5).toString == "ab")
  }

  test("string-distance invariants hold under fuzz (OSA vs full vs Levenshtein)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    def u(s: String) = UTF8String.fromString(s)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val gs = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val prop = Prop.forAll(gs, gs) { (a, b) =>
      val full = StrDistImpl.damerauLevenshteinFull(u(a), u(b))
      val osa = StrDistImpl.damerauLevenshtein(u(a), u(b))
      val l = lev(a, b)
      // full ≤ OSA ≤ Levenshtein; symmetry; identity; length lower bound
      full <= osa && osa <= l &&
        osa == StrDistImpl.damerauLevenshtein(u(b), u(a)) &&
        full == StrDistImpl.damerauLevenshteinFull(u(b), u(a)) &&
        StrDistImpl.damerauLevenshtein(u(a), u(a)) == 0 &&
        osa >= math.abs(a.length - b.length) &&
        // jaro is symmetric, in [0,1], 1 iff equal strings
        { val j = StrDistImpl.jaro(u(a), u(b))
          j >= 0.0 && j <= 1.0 && j == StrDistImpl.jaro(u(b), u(a)) &&
            ((a != b) || j == 1.0) }
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  test("sha1 matches the RFC 3174 test vectors (no DuckDB twin to oracle)") {
    val r = spark.sql(
      """SELECT sha1('abc') AS a, sha1('') AS e,
        |  sha1('abcdbcdecdefdefgefghfghighijhijkijkljklmklmnlmnomnopnopq') AS l,
        |  unhex('XYZ') AS bad_hex""".stripMargin).collect().head
    assert(r.getString(0) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(r.getString(1) == "da39a3ee5e6b4b0d3255bfef95601890afd80709")
    assert(r.getString(2) == "84983e441c3bd26ebaae4aa1f95129e5e54670f1")
    assert(r.isNullAt(3)) // invalid hex -> NULL, not an error
  }

  test("iceberg transforms reject non-positive bucket count / width") {
    // foldable non-positive n/w → analysis-time failure, clear message
    for (q <- Seq("SELECT iceberg_bucket(34L, 0)", "SELECT iceberg_bucket(34L, -3)",
                  "SELECT iceberg_truncate(17L, 0L)", "SELECT iceberg_truncate(17L, -5L)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.contains("must be positive"), s"$q: ${e.getMessage}")
    }
    // runtime (non-foldable) non-positive → NULL, not ArithmeticException
    import spark.implicits._
    val rows = Seq((34L, 0, 0L), (34L, 16, 10L), (34L, -2, -1L)).toDF("v", "n", "w")
      .selectExpr("iceberg_bucket(v, n) AS b", "iceberg_truncate(v, w) AS t")
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getInt(0) == 2017239379 % 16 && rows(1).getLong(1) == 30L)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("string distances match the published algorithm vectors") {
    def u(s: String) = UTF8String.fromString(s)
    // Winkler's canonical example: jaro(MARTHA, MARHTA) = 17/18,
    // winkler boost with prefix 3 → 0.9611..
    assert(math.abs(StrDistImpl.jaro(u("MARTHA"), u("MARHTA")) - 17.0 / 18.0) < 1e-12)
    assert(math.abs(StrDistImpl.jaroWinkler(u("MARTHA"), u("MARHTA")) - 0.9611111111111111) < 1e-12)
    // DIXON/DICKSONX (Winkler 1990): jaro = 0.7666.., jw = 0.8133..
    assert(math.abs(StrDistImpl.jaro(u("DIXON"), u("DICKSONX")) - 0.7666666666666666) < 1e-12)
    assert(math.abs(StrDistImpl.jaroWinkler(u("DIXON"), u("DICKSONX")) - 0.8133333333333332) < 1e-10)
    // no boost below the 0.7 threshold
    val lowJ = StrDistImpl.jaro(u("abcdef"), u("badcfe"))
    if (lowJ <= 0.7) assert(StrDistImpl.jaroWinkler(u("abcdef"), u("badcfe")) == lowJ)
    // empty conventions: both-empty = 1.0 (reference parity), one-empty = 0.0
    assert(StrDistImpl.jaro(u(""), u("")) == 1.0 && StrDistImpl.jaro(u("a"), u("")) == 0.0)
    assert(StrDistImpl.jaroWinkler(u(""), u("")) == 1.0)
    // damerau_levenshtein is restricted OSA (reference parity):
    // CA→ABC = 3 — the transposed "AC" substring cannot be edited again
    assert(StrDistImpl.damerauLevenshtein(u("CA"), u("ABC")) == 3)
    assert(StrDistImpl.damerauLevenshtein(u("kitten"), u("sitting")) == 3)
    assert(StrDistImpl.damerauLevenshtein(u("ab"), u("ba")) == 1)
    assert(StrDistImpl.damerauLevenshtein(u(""), u("abc")) == 3)
    assert(StrDistImpl.damerauLevenshtein(u("same"), u("same")) == 0)
    // OSA counts an adjacent transposition as one edit (vs Levenshtein 2)
    assert(StrDistImpl.damerauLevenshtein(u("abcdef"), u("abcdfe")) == 1)
    // FULL Lowrance-Wagner: distant transpositions allowed, CA→ABC = 2
    // (transpose then insert) — DuckDB's convention
    assert(StrDistImpl.damerauLevenshteinFull(u("CA"), u("ABC")) == 2)
    assert(StrDistImpl.damerauLevenshteinFull(u("kitten"), u("sitting")) == 3)
    assert(StrDistImpl.damerauLevenshteinFull(u("ab"), u("ba")) == 1)
    // OSA ≥ full everywhere; equal when no composed transposition helps
    for ((x, y) <- Seq(("abcd", "acbd"), ("spark", "sprak"), ("graft", "tfarg")))
      assert(StrDistImpl.damerauLevenshtein(u(x), u(y)) >=
        StrDistImpl.damerauLevenshteinFull(u(x), u(y)))
  }
}
