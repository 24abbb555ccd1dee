package graft

import org.apache.spark.sql.functions._
import graft.functions.{KllQuantile, Sampling}

/** KLL quantile sketch + sampling-family aggregates: error bounds,
  * reservoir invariants, seeded determinism. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("KLL sketch quantile estimate stays within the k=200 rank-error bound") {
    val n = 20000
    val df = (1 to n).map(_.toDouble).toDF("x").repartition(8)
    val out = df.agg(KllQuantile.sketch($"x").as("sk"))
      .select(call_function("kll_quantile", $"sk", lit(0.5)).as("p50"),
        call_function("kll_quantile", $"sk", lit(0.9)).as("p90"))
      .collect().head
    // k=200 → ~1.65% normalized rank error; allow 3%
    assert(math.abs(out.getAs[Double]("p50") - n * 0.5) <= n * 0.03, out.toString)
    assert(math.abs(out.getAs[Double]("p90") - n * 0.9) <= n * 0.03, out.toString)
  }

  test("KLL rank/n/cdf/pmf/quantiles stay within the k=200 rank-error bound") {
    val n = 20000
    val df = (1 to n).map(_.toDouble).toDF("x").repartition(8)
    val out = df.agg(KllQuantile.sketch($"x").as("sk"))
      .select(
        call_function("kll_rank", $"sk", lit(n * 0.3)).as("rank30"),
        call_function("kll_n", $"sk").as("nn"),
        call_function("kll_cdf", $"sk",
          array(lit(n * 0.25), lit(n * 0.75))).as("cdf"),
        call_function("kll_pmf", $"sk",
          array(lit(n * 0.25), lit(n * 0.75))).as("pmf"),
        call_function("kll_quantiles", $"sk",
          array(lit(0.1), lit(0.5), lit(0.9))).as("qs"))
      .collect().head
    // n is exact regardless of compaction
    assert(out.getAs[Long]("nn") == n)
    // rank of the 30th-percentile value ≈ 0.3 (k=200 ≈ 1.65% err; allow 3%)
    assert(math.abs(out.getAs[Double]("rank30") - 0.3) <= 0.03, out.toString)
    // CDF at [P25, P75] → [~.25, ~.75, 1.0]; PMF over same splits sums to 1
    val cdf = out.getAs[scala.collection.Seq[Double]]("cdf")
    assert(cdf.length == 3 && math.abs(cdf(0) - 0.25) <= 0.03 &&
      math.abs(cdf(1) - 0.75) <= 0.03 && cdf(2) == 1.0, out.toString)
    val pmf = out.getAs[scala.collection.Seq[Double]]("pmf")
    assert(pmf.length == 3 && math.abs(pmf.sum - 1.0) < 1e-9 &&
      math.abs(pmf(1) - 0.5) <= 0.06, out.toString)
    // quantiles at [.1, .5, .9] land within rank error of the exacts
    val qs = out.getAs[scala.collection.Seq[Double]]("qs")
    for ((q, r) <- qs.zip(Seq(0.1, 0.5, 0.9)))
      assert(math.abs(q - n * r) <= n * 0.03, out.toString)
  }

  test("KLL sketch build/merge round-trips through serialization") {
    val df = (1 to 5000).map(i => (i % 4, i.toDouble)).toDF("g", "x").repartition(8)
    val rows = df.groupBy("g").agg(KllQuantile.sketch($"x").as("sk")).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("sk")
      assert(KllQuantile.countOf(bytes) == 1250, r.toString) // every row reached the sketch
    }
  }

  test("theta sketch: exact below k; union/intersect/a-not-b match set algebra") {
    import graft.functions.ThetaOps
    // A = {0..999}, B = {500..1499}: |A|=|B|=1000, |A∪B|=1500, |A∩B|=500, |A\B|=500
    val df = ((0 until 1000).map(i => ("a", i.toLong)) ++
      (500 until 1500).map(i => ("b", i.toLong))).toDF("g", "x").repartition(8)
    val sk = df.groupBy("g").agg(ThetaOps.sketch($"x").as("sk")).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Array[Byte]]("sk")).toMap
    assert(ThetaOps.estimate(sk("a")) == 1000.0)
    assert(ThetaOps.estimate(sk("b")) == 1000.0)
    assert(ThetaOps.unionEst(sk("a"), sk("b")) == 1500.0)
    assert(ThetaOps.intersectEst(sk("a"), sk("b")) == 500.0)
    assert(ThetaOps.aNotBEst(sk("a"), sk("b")) == 500.0)
    // above k=4096 the sketch estimates: 100k distinct within 5%
    val big = (1 to 100000).map(_.toLong).toDF("x").repartition(8)
    val est = ThetaOps.estimate(big.agg(ThetaOps.sketch($"x").as("sk"))
      .collect().head.getAs[Array[Byte]]("sk"))
    assert(math.abs(est - 100000) <= 5000, s"theta estimate $est")
  }

  test("reservoir sample: subset of input, bounded size, exhaustive when group fits") {
    val vals = (1 to 50).map(_.toDouble)
    val df = vals.toDF("x").repartition(4)
    // capacity > group size → the sample IS the group
    val full = df.agg(Sampling.sample($"x", capacity = 100).as("s"))
      .collect().head.getAs[scala.collection.Seq[Double]]("s").toSeq
    assert(full.sorted == vals)
    // capacity < group size → bounded and drawn from the input
    val small = df.agg(Sampling.sample($"x", capacity = 10).as("s"))
      .collect().head.getAs[scala.collection.Seq[Double]]("s").toSeq
    assert(small.length == 10 && small.forall(vals.contains))
  }

  test("reservoir sample is deterministic for a fixed seed and plan") {
    val df = (1 to 500).map(_.toDouble).toDF("x").repartition(4)
    def run() = df.agg(Sampling.sample($"x", capacity = 20, seed = 7L).as("s"))
      .collect().head.getAs[scala.collection.Seq[Double]]("s").toSeq
    assert(run() == run())
  }

  test("histogram: monotone equi-height right edges, max in last bucket") {
    val df = (1 to 1000).map(_.toDouble).toDF("x").repartition(4)
    val h = df.agg(Sampling.histogram($"x", buckets = 4, capacity = 2000).as("h"))
      .collect().head.getAs[scala.collection.Seq[Double]]("h").toSeq
    assert(h.length == 4)
    assert(h == h.sorted, h.toString)
    assert(h.last == 1000.0) // capacity ≥ n → exact equi-height edges
    // edges near the exact quartiles
    Seq(250.0, 500.0, 750.0).zip(h.dropRight(1)).foreach { case (exact, got) =>
      assert(math.abs(got - exact) <= 1.0, h.toString)
    }
  }

  test("histogram: group smaller than the bucket count does not crash") {
    // Regression (round-2 advisor): fewer sampled rows than buckets made
    // the leading bucket index -1. Edges must clamp to the smallest row.
    val df = Seq(3.0, 7.0).toDF("x")
    val h = df.agg(Sampling.histogram($"x", buckets = 10).as("h"))
      .collect().head.getAs[scala.collection.Seq[Double]]("h").toSeq
    assert(h.length == 10)
    assert(h == h.sorted, h.toString)
    assert(h.head == 3.0 && h.last == 7.0, h.toString)
  }

  test("sampled_ndv: exact when the group fits the reservoir, sane estimate when not") {
    val df = (1 to 800).map(i => (i % 57).toDouble).toDF("x").repartition(4)
    val exactFit = df.agg(Sampling.sampledNdv($"x", capacity = 1000).as("ndv"))
      .collect().head.getAs[Long]("ndv")
    assert(exactFit == 57)
    // 5000 rows, 400 distinct, reservoir 500: GEE estimate within 2×
    val big = (1 to 5000).map(i => (i % 400).toDouble).toDF("x").repartition(8)
    val est = big.agg(Sampling.sampledNdv($"x", capacity = 500).as("ndv"))
      .collect().head.getAs[Long]("ndv")
    assert(est >= 200 && est <= 800, s"ndv estimate $est vs exact 400")
  }

  test("CPC sketch: estimate within error bound, union matches multiset union") {
    import graft.functions.CpcOps
    val df = (1 to 20000).map(i => (i % 2, (i % 3000).toLong)).toDF("g", "x").repartition(8)
    val sk = df.groupBy($"g").agg(CpcOps.sketch($"x").as("sk"))
    val ests = sk.select($"g", call_function("cpc_estimate", $"sk").as("est"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // each parity class sees 1500 distinct values
    ests.values.foreach(e => assert(math.abs(e - 1500.0) / 1500.0 < 0.05, ests.toString))
    // union of the two group sketches ≈ 3000 overall distincts
    val pair = sk.orderBy($"g").collect().map(_.getAs[Array[Byte]]("sk"))
    val u = CpcOps.unionEst(pair(0), pair(1))
    assert(math.abs(u - 3000.0) / 3000.0 < 0.05, u.toString)
    // self-union is idempotent up to sketch resolution
    val selfU = CpcOps.unionEst(pair(0), pair(0))
    assert(math.abs(selfU - ests(0)) / ests(0) < 0.01, s"$selfU vs ${ests(0)}")
  }

  test("sketch stringify: hll_bounds brackets the exact count; summaries name their family") {
    import graft.functions.{CpcOps, KllQuantile, ThetaOps}
    val df = (1 to 10000).map(i => (i % 1500).toLong).toDF("x").repartition(8)
    val row = df.agg(
      expr("hll_sketch_agg(x)").as("hll"),
      KllQuantile.sketch($"x".cast("double")).as("kll"),
      ThetaOps.sketch($"x").as("theta"),
      CpcOps.sketch($"x").as("cpc")).select(
      call_function("hll_bounds", $"hll", lit(1)).as("b1"),
      call_function("hll_bounds", $"hll", lit(3)).as("b3"),
      call_function("hll_stringify", $"hll").as("hs"),
      call_function("cpc_stringify", $"cpc").as("cs"),
      call_function("theta_stringify", $"theta").as("ts"),
      call_function("kll_stringify", $"kll").as("ks")).collect().head
    def parse(s: String): Array[Double] = s.split(",").map(_.toDouble)
    val Array(e1, lo1, hi1) = parse(row.getString(0))
    val Array(e3, lo3, hi3) = parse(row.getString(1))
    assert(lo1 <= e1 && e1 <= hi1 && lo3 <= e3 && e3 <= hi3)
    assert(lo3 <= lo1 && hi1 <= hi3, "kappa=3 interval must contain kappa=1's")
    assert(lo3 <= 1500.0 && 1500.0 <= hi3, s"exact 1500 outside [$lo3,$hi3]")
    assert(row.getString(2).contains("HLL") && row.getString(3).contains("CPC"))
    assert(row.getString(4).nonEmpty && row.getString(5).contains("Kll"))
    // bounds strings use C++ default-ostream rendering (6 significant
    // digits, %g trailing-zero strip) — the reference's exact layout:
    // no fixed decimal tail like "1500.00", no dangling "100000."
    Seq(row.getString(0), row.getString(1)).flatMap(_.split(",")).foreach { tok =>
      assert(!tok.endsWith("."), s"dangling decimal point: $tok")
      assert(!tok.matches(""".*\.\d*0$"""), s"unstripped trailing zero: $tok")
      val digits = tok.takeWhile(c => c != 'e' && c != 'E').replaceAll("[^0-9]", "")
      assert(digits.dropWhile(_ == '0').length <= 6, s"more than 6 sig digits: $tok")
    }
    // reference rejects kappa outside 1..3 (datasketches-functions-ir.cc:57)
    val bad = intercept[Exception] {
      df.agg(expr("hll_sketch_agg(x)").as("h"))
        .select(call_function("hll_bounds", $"h", lit(4))).collect()
    }
    assert(bad.getMessage != null)
  }
}
