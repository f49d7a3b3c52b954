package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Exact algebraic properties of the kernels (not statistical estimates —
  * these hold for every input).
  */
class KernelPropertiesSpec extends SparkTestBase {

  private def words(seed: Long, n: Int): Seq[String] = {
    val g = Gen.listOfN(n, Gen.oneOf("spark", "row", "data", "fast", "key",
      "sort", "scan", "merge", "join", "query"))
    g.pureApply(Gen.Parameters.default, Seed(seed))
  }

  test("minhash: signature of a union is the element-wise min") {
    import graft.TestSpark.spark.implicits._
    (1L to 10L).foreach { seed =>
      val a = words(seed, 30).mkString(" ")
      val b = words(seed + 100, 30).mkString(" ")
      val df = Seq((a, b, a + " " + b)).toDF("a", "b", "u")
      def sig(c: String) = Kernels.minhashSig(
        array_distinct(TextFunctions.wordShingles(col(c), 2)), 32)
      val r = df.select(sig("a").as("sa"), sig("b").as("sb"), sig("u").as("su")).head()
      val sa = r.getSeq[Long](0); val sb = r.getSeq[Long](1); val su = r.getSeq[Long](2)
      // shingles(u) ⊇ shingles(a) ∪ shingles(b) minus boundary effects —
      // use the exact union property on the signature level instead:
      // every union-signature entry is <= the min of the parts
      assert(su.zip(sa.zip(sb)).forall { case (u, (x, y)) => u <= math.min(x, y) })
    }
  }

  test("minhash est-jaccard of identical inputs is exactly 1") {
    import graft.TestSpark.spark.implicits._
    val t = words(7L, 40).mkString(" ")
    val df = Seq((t, t)).toDF("a", "b")
    def sig(c: String) = Kernels.minhashSig(
      array_distinct(TextFunctions.wordShingles(col(c), 3)), 64)
    val r = df.select(sig("a"), sig("b")).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("simhash is invariant under token duplication") {
    import graft.TestSpark.spark.implicits._
    (1L to 10L).foreach { seed =>
      val toks = words(seed, 25)
      val df = Seq((toks, toks ++ toks)).toDF("once", "twice")
      val r = df.select(Kernels.simhash64(col("once")),
        Kernels.simhash64(col("twice"))).head()
      assert(r.getLong(0) == r.getLong(1), s"seed $seed")
    }
  }

  test("winnow fingerprints are a subset of the k-gram hash set") {
    import graft.TestSpark.spark.implicits._
    (1L to 10L).foreach { seed =>
      val text = words(seed, 20).mkString(" ")
      val df = Seq(text).toDF("t")
      val r = df.select(Kernels.winnowFp(col("t"), 4, 3).as("fp"),
        Fingerprint.kgramHashes(col("t"), 4).as("kg")).head()
      val fp = r.getSeq[Long](0).toSet
      val kg = r.getSeq[Long](1).toSet
      assert(fp.subsetOf(kg), s"seed $seed")
      assert(fp.nonEmpty)
    }
  }

  test("agreeCount kernel matches the zip_with HOF form exactly") {
    import graft.TestSpark.spark.implicits._
    (1L to 10L).foreach { seed =>
      // random LENGTHS too: zip_with pads the shorter side with nulls
      // (which never match ===), the kernel loops to min length — the
      // forms must still agree
      val lenG = Gen.chooseNum(0, 40)
      val la = lenG.pureApply(Gen.Parameters.default, Seed(seed + 200))
      val lb = lenG.pureApply(Gen.Parameters.default, Seed(seed + 300))
      val g = (n: Int) => Gen.listOfN(n, Gen.chooseNum(0L, 3L)) // collisions
      val a = g(la).pureApply(Gen.Parameters.default, Seed(seed))
      val b = g(lb).pureApply(Gen.Parameters.default, Seed(seed + 100))
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        Kernels.agreeCountCol(col("a"), col("b")).as("kernel"),
        size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
          v => v)).as("hof")).head()
      assert(r.getInt(0) == r.getInt(1), s"seed $seed (len $la vs $lb)")
    }
    // null elements never match — same as === semantics in the HOF form
    val withNulls = Seq((Seq[java.lang.Long](1L, null, 3L),
      Seq[java.lang.Long](1L, null, 4L))).toDF("a", "b")
    val rn = withNulls.select(
      Kernels.agreeCountCol(col("a"), col("b")).as("kernel"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
        v => v)).as("hof")).head()
    assert(rn.getInt(0) == 1 && rn.getInt(1) == 1)
    // SQL surface
    val s = Seq((Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b")
      .selectExpr("graft_agree_count(a, b)").head().getInt(0)
    assert(s == 2)
  }

  test("longDot kernel matches the aggregate/zip_with HOF form exactly") {
    import graft.TestSpark.spark.implicits._
    (1L to 10L).foreach { seed =>
      val g = Gen.listOfN(64, Gen.chooseNum(-2000L, 2000L))
      val a = g.pureApply(Gen.Parameters.default, Seed(seed))
      val b = g.pureApply(Gen.Parameters.default, Seed(seed + 100))
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        Kernels.longDotCol(col("a"), col("b")).as("kernel"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L),
          (acc, v) => acc + v).as("hof")).head()
      assert(r.getLong(0) == r.getLong(1), s"seed $seed")
    }
    // codegen: the kernel must stay inside whole-stage codegen on the
    // pair-verify shape it exists for (range source so the projection
    // isn't constant-folded into a LocalTableScan)
    val df = graft.TestSpark.spark.range(4)
      .select(array(col("id"), col("id") + 1).as("a"),
        array(col("id") + 2, col("id") + 3).as("b"))
      .select(Kernels.longDotCol(col("a"), col("b")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // * prefix = codegen'd stage
    assert(plan.contains("long_dot"), plan)
    assert(df.orderBy("d").head().getLong(0) == 3L) // id=0: 0*2 + 1*3
    // SQL surface
    val s = Seq((Seq(2L, 3L), Seq(4L, 5L))).toDF("a", "b")
      .selectExpr("graft_long_dot(a, b)").head().getLong(0)
    assert(s == 23L)
  }

  test("alphaTokenCount matches the HOF filter over split tokens") {
    import graft.TestSpark.spark.implicits._
    val cases = Seq(
      "the quick 123 fox",      // 3 alpha of 4
      "", " ", "  ",            // empty tokens only
      "123 456 #!? ...",        // zero alpha
      "a", "A1", "1a", "ж д",   // single/mixed/non-ASCII letters
      "x  y",                   // empty token between doubles
      words(7L, 30).mkString(" "))
    cases.foreach { s =>
      val r = Seq(s).toDF("t").select(
        Kernels.alphaTokenCountCol(col("t")).as("kernel"),
        size(filter(split(col("t"), " "),
          t => t.rlike("[a-zA-Z]"))).as("hof")).head()
      assert(r.getInt(0) == r.getInt(1), s"input '$s'")
    }
    // cyrillic has no ASCII letters — both forms agree on 0
    val cy = Seq("ж д").toDF("t")
      .select(Kernels.alphaTokenCountCol(col("t"))).head().getInt(0)
    assert(cy == 0)
  }

  test("centroid kernels stay total on degenerate vectors (zero/null/NaN)") {
    import graft.TestSpark.spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(0.0, 0.0))
    val df = Seq(
      (1L, Array(0.0, 0.0)),              // zero norm -> sim -1 everywhere
      (2L, Array(Double.NaN, 1.0)),       // NaN element -> clamped, no crash
      (3L, Array(1.0, 0.1))               // normal row for contrast
    ).toDF("id", "vec")
    val rows = df.select(col("id"),
      Kernels.nearestCentroidCol(col("vec"), cents).as("nc"),
      Kernels.topCentroidsCol(col("vec"), cents, 3).as("top"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2)))
      .toMap
    // every row gets a full, duplicate-free probe list — no AIOOBE, no gaps
    rows.values.foreach { case (nc, top) =>
      assert(top.sorted == Seq(0, 1, 2))
      assert(top.contains(nc))
    }
    assert(rows(3L)._1 == 0) // normal row: genuinely nearest centroid wins
    assert(rows(3L)._2.head == 0)
  }

  test("centroid expressions compare structurally (CSE-friendly)") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val child = org.apache.spark.sql.catalyst.expressions.Literal
      .create(Array(1.0, 0.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))
    // identical matrices built independently must compare equal, or Catalyst
    // canonicalization/CSE can never dedup two uses of the same model
    assert(Kernels.NearestCentroidIdx(child, cents.map(_.toSeq)) ==
      Kernels.NearestCentroidIdx(child, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))
    assert(Kernels.TopCentroidsIdx(child, cents, 2) ==
      Kernels.TopCentroidsIdx(child, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), 2))
  }

  test("cosine is symmetric and self-cosine is 1") {
    import graft.TestSpark.spark.implicits._
    (1L to 10L).foreach { seed =>
      val g = Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0))
      val v = g.pureApply(Gen.Parameters.default, Seed(seed)).toArray
      val w = g.pureApply(Gen.Parameters.default, Seed(seed + 50)).toArray
      val df = Seq((v, w)).toDF("v", "w")
      val r = df.select(
        VectorFunctions.cosine(col("v"), col("w")),
        VectorFunctions.cosine(col("w"), col("v")),
        VectorFunctions.cosine(col("v"), col("v"))).head()
      assert(r.getDouble(0) == r.getDouble(1))
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    }
  }

  test("deflateRatio: repetition compresses, entropy doesn't, empty is 1") {
    import graft.TestSpark.spark.implicits._
    val repetitive = "spam spam spam " * 200
    // xxhash64-derived hex soup — no structure for zlib to find
    val entropic = (1 to 200).map(i =>
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(i.toString).toLong * 2654435761L))
      .mkString(" ")
    val df = Seq((1L, repetitive), (2L, entropic), (3L, "")).toDF("id", "text")
    val r = df.select(col("id"), Kernels.deflateRatioCol(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < 0.05, s"repetitive ratio ${r(1L)}")
    assert(r(2L) > 0.3, s"entropic ratio ${r(2L)}")
    assert(r(3L) == 1.0)
    // deterministic under re-evaluation (thread-local state resets fully)
    val again = df.select(col("id"), Kernels.deflateRatioCol(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(again == r)
  }

  test("deflateRatio: tiny inputs exceed 2 but respect the stored-block bound") {
    import graft.TestSpark.spark.implicits._
    // r7 advice: 1 raw byte deflates to 3 bytes (ratio 3.0), 2 to 4 —
    // a constant (0,2) invariant is false for short texts. The honest
    // bound scales with length: ratio <= 1.001 + 8/n (the assertion
    // text_compressibility now registers).
    val df = (1 to 64).map(n => (n.toLong, "a" * n)).toDF("id", "text")
    val r = df.select(col("id"), Kernels.deflateRatioCol(col("text")))
      .as[(Long, Double)].collect()
    r.foreach { case (n, ratio) =>
      assert(ratio > 0.0 && ratio <= 1.001 + 8.0 / n, s"n=$n ratio=$ratio")
    }
    assert(r.toMap.apply(1L) > 2.0) // the counterexample that killed (0,2)
  }

  test("deflateRatio stays inside whole-stage codegen") {
    // spark.range source: a literal local relation would be folded by
    // ConvertToLocalRelation before any codegen stage exists
    val df = graft.TestSpark.spark.range(3)
      .select(concat(lit("tok "), col("id").cast("string")).as("text"))
      .select(Kernels.deflateRatioCol(col("text")).as("r"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // * prefix = codegen'd stage
    assert(plan.contains("deflate_ratio"), plan)
    assert(df.head().getDouble(0) > 0.0)
  }

  test("mergeTokensAll equals folding mergeTokens over random corpora") {
    import graft.TestSpark.spark.implicits._
    // property over random token streams and random merge tables drawn
    // from the SAME small alphabet (so merges actually fire, including
    // cascades where a merge consumes an earlier merge's output)
    val alphabet = Seq("a", "b", "c", "ab", "bc")
    (1L to 20L).foreach { seed =>
      val toks = Gen.listOfN(30, Gen.oneOf(alphabet))
        .pureApply(Gen.Parameters.default, Seed(seed))
      val merges = Gen.listOfN(5,
          Gen.zip(Gen.oneOf(alphabet), Gen.oneOf(alphabet)))
        .pureApply(Gen.Parameters.default, Seed(seed + 1000))
      val df = Seq(Tuple1(toks)).toDF("toks")
      val kernel = df.select(
        Kernels.mergeTokensAllCol(col("toks"), merges).as("t"))
        .as[Seq[String]].head()
      val folded = df.select(
          merges.foldLeft(col("toks")) { case (c, (a, b)) =>
            Kernels.mergeTokensCol(c, a, b)
          }.as("t"))
        .as[Seq[String]].head()
      assert(kernel == folded, s"seed $seed merges $merges toks $toks")
    }
  }

  test("projectDense is linear and zero at the mean") {
    import graft.TestSpark.spark.implicits._
    val mean = Array(0.5, -1.0, 2.0)
    val comps = Array(Array(1.0, 0.0, 0.0), Array(0.5, 0.5, -0.5))
    val df = Seq(
      (1L, Seq(0.5, -1.0, 2.0)),     // exactly the mean
      (2L, Seq(1.5, -1.0, 2.0)),     // mean + e1
      (3L, Seq(2.5, -1.0, 2.0))      // mean + 2*e1 (linearity)
    ).toDF("id", "v")
    val got = df.orderBy("id")
      .select(Kernels.projectDenseCol(col("v"), mean, comps).as("p"))
      .as[Seq[Double]].collect()
    assert(got(0) == Seq(0.0, 0.0))
    assert(got(1) == Seq(1.0, 0.5))
    assert(got(2) == Seq(2.0, 1.0)) // double the displacement, double out
  }

  test("sortedSum is bit-identical to the sort_array + HOF-fold " +
    "portable summation it replaces, and stays in codegen") {
    import graft.TestSpark.spark.implicits._
    // adversarial doubles: sums where order changes the ulp result,
    // negative zero, huge/tiny mixes — identity must hold bit for bit
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      i -> Seq.fill(rng.nextInt(12))(
        (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(20) - 10))
    } :+ (201 -> Seq(-0.0, 0.0, 1e300, -1e300, 1e-300))
    val df = rows.toDF("id", "xs")
    val got = df.select(col("id"),
        Kernels.sortedSumCol(col("xs")).as("kernel"),
        aggregate(sort_array(col("xs")), lit(0.0),
          (acc, x) => acc + x).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"id=${r.getInt(0)}: kernel ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
    // plan pin on a non-foldable source (a local relation constant-folds
    // the whole projection away)
    val plan = graft.TestSpark.spark.range(3)
      .select(array(col("id").cast("double"),
        (col("id") * 2).cast("double")).as("xs"))
      .select(Kernels.sortedSumCol(col("xs")).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("double_sorted_sum"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  test("projectDense stays inside whole-stage codegen") {
    val df = graft.TestSpark.spark.range(3)
      .select(array(col("id").cast("double"),
        (col("id") * 2).cast("double")).as("v"))
      .select(Kernels.projectDenseCol(col("v"), Array(0.0, 0.0),
        Array(Array(1.0, 1.0))).as("p"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(plan.contains("project_dense"), plan)
  }
}
