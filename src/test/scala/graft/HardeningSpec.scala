package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.{Kernels, TopKAgg}
import graft.operators.{Sessionize, Skew}

/** Regression tests for the hardening pass: bad inputs fail at analysis
  * with clear messages, and the semantic fixes hold.
  */
class HardeningSpec extends SparkTestBase {

  test("every oracle key names a registered query (driver-contract consistency)") {
    // an oracleSql entry without a matching queries entry would make the
    // driver's DuckDB compare look up a parquet dump that was never
    // written — a silent red row. Cheap to pin here.
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without queries: $orphans")
  }

  test("registry slices are disjoint and fully tagged") {
    import graft.queries._
    // `++` over the per-family slices silently keeps the LAST entry on
    // a key collision — a duplicated registration would shadow one
    // query without any error. Pin slice disjointness by size.
    val slices = Seq(QueriesCore.queries, QueriesDedup.queries,
      QueriesText.queries, QueriesAnn.queries, QueriesMultimodal.queries)
    assert(slices.map(_.size).sum == SparkEntry.queries.size,
      "duplicate query name across registry slices")
    assert(OracleSqlA.map.size + OracleSqlB.map.size ==
      SparkEntry.oracleSql.size,
      "duplicate oracle key across OracleSqlA/B")
    // every registered query carries exactly one of the three bench
    // accounting tags (Bench writes them into the spread artifact)
    val tags = SparkEntry.queryTags
    assert(tags.keySet == SparkEntry.queries.keySet)
    val bad = tags.filterNot { case (_, t) =>
      Set("production", "portable-twin", "gate")(t) }
    assert(bad.isEmpty, s"unknown tags: $bad")
    // the split must not change the registered surface: the r14 round
    // artifact had 228 queries / 191 oracles and removals are a
    // regression unless deliberate (then update these pins)
    assert(SparkEntry.queries.size >= 228, SparkEntry.queries.size.toString)
    assert(SparkEntry.oracleSql.size >= 191, SparkEntry.oracleSql.size.toString)
  }

  test("every uncapped transitive-cluster query has its capped " +
    "production twin registered (r18 routing contract)") {
    // the uncapped pair-graph family is the exact-oracle envelope edge
    // and a measured closed-vocab 100x scale-killer (Σdf² blowup); the
    // df-capped twins are the production path README routes to. A
    // registry refactor must not drop one side of a pair silently.
    val pairs = Seq(
      "dedup_clusters" -> "dedup_clusters_capped",
      "dedup_keep_best" -> "dedup_keep_best_capped",
      "doc_pagerank" -> "doc_pagerank_capped",
      "dedup_containment_prune" -> "dedup_containment_capped")
    pairs.foreach { case (uncapped, capped) =>
      assert(SparkEntry.queries.contains(uncapped), uncapped)
      assert(SparkEntry.queries.contains(capped), capped)
    }
  }

  test("TopKAgg rejects wrong input types at analysis time") {
    import graft.TestSpark.spark.implicits._
    val df = Seq(("a", 1.0, "not-a-long")).toDF("g", "s", "id")
    val e = intercept[Exception] {
      df.groupBy("g").agg(TopKAgg.topK(col("s"), col("id"), 2)).collect()
    }
    assert(e.getMessage.contains("requires (double, bigint)"), e.getMessage)
  }

  test("top-k is deterministic in the presence of NaN scores") {
    import graft.TestSpark.spark.implicits._
    // zero vector -> cosine NaN against every query
    val vecs = (Seq((0L, Array(0.0f, 0.0f))) ++
      (1 to 40).map(i => (i.toLong, Array(i.toFloat, 1.0f)))).toDF("id", "v")
    val out = graft.operators.Similarity.bruteForceTopK(vecs, col("id"), col("v"),
      vecs.filter(col("id") === 1), col("id"), col("v"), k = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    // NaN sorts greatest (Spark semantics): the zero vector ranks first,
    // deterministically
    assert(out.toSeq.sortBy(_._2).head._1 == 0L)
    assert(out.length == 3)
  }

  test("saltedJoin rejects dim-preserving join types") {
    import graft.TestSpark.spark.implicits._
    val f = Seq((1L, "x")).toDF("k", "p")
    val d = Seq((1L, "d")).toDF("k", "n")
    val e = intercept[IllegalArgumentException] {
      Skew.saltedJoin(f, d, "k", salt = 4, joinType = "right")
    }
    assert(e.getMessage.contains("fact-preserving"))
  }

  test("sessionize works with arbitrarily named input columns") {
    import graft.TestSpark.spark.implicits._
    val ev = Seq(
      (7L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (7L, Timestamp.valueOf("2024-01-01 13:00:00"))
    ).toDF("uid", "event_time") // NOT user_id/ts
    val out = Sessionize.sessions(ev, col("uid"), col("event_time"), 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((7L, 1L), (7L, 2L)))
  }

  test("winnow segments k-grams by code points (astral-safe)") {
    val astral = "ab𝄞cd" // 5 code points, 6 UTF-16 units
    val r = spark.range(1).select(
      Kernels.winnowFp(lit(astral), 3, 2).as("fp"),
      graft.functions.Fingerprint.kgramHashes(lit(astral), 3).as("kg")).head()
    val fp = r.getSeq[Long](0).toSet
    val kg = r.getSeq[Long](1).toSet
    // 3 k-grams of 5 code points; fingerprints must come from the same
    // code-point-segmented gram universe as the charShingles HOF path
    assert(kg.size == 3)
    assert(fp.subsetOf(kg))
  }

  test("SQL functions fail cleanly on bad arity and types") {
    val arity = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('a'))").collect()
    }
    assert(arity.getMessage.contains("expects 3 arguments"), arity.getMessage)
    val typed = intercept[Exception] {
      spark.sql("SELECT graft_fnv64(42)").collect()
    }
    assert(typed.getMessage.contains("requires a string"), typed.getMessage)
  }

  test("zero-pad resize emits 0x00 bytes") {
    import graft.TestSpark.spark.implicits._
    val m = graft.operators.Multimodal.packTextAsMedia(
      Seq((1L, "abc")).toDF("id", "t"), col("id"), col("t"))
    val bytes = m.select(graft.operators.Multimodal.stubResize(col("media"), 6))
      .head().getAs[Array[Byte]](0)
    assert(bytes.toSeq == Seq[Byte]('a', 'b', 'c', 0, 0, 0))
  }

  test("rankTopK refuses lossy id types instead of truncating") {
    import graft.TestSpark.spark.implicits._
    val scored = Seq(("q", 5.2, 0.9)).toDF("query_id", "neighbor_id", "cosine")
    val e = intercept[Exception] {
      graft.operators.Similarity.rankTopK(scored, 1).collect()
    }
    assert(e.getMessage.contains("requires (double, bigint)"), e.getMessage)
  }

  test("sumGate matches the gate column case-insensitively") {
    import graft.TestSpark.spark.implicits._
    val ctx = new graft.pipelines.PipelineContext(spark,
      new graft.sinks.MockServingSink, tempDir("gate").toString,
      org.apache.spark.sql.SaveMode.Append)
    val df = Seq(3L, 4L).toDF("Total_Records")
    assert(ctx.sumGate(df, "total_records") == 7L)
    assert(ctx.sumGate(df, "absent_column") == 0L)
  }

  test("cosine propagates null for vectors with null elements (HOF parity)") {
    import graft.TestSpark.spark.implicits._
    val df = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 1.0)))
      .toDF("a", "b")
    val viaKernel = df.select(
      graft.functions.VectorFunctions.cosine(col("a").cast("array<double>"),
        col("b").cast("array<double>"))).head()
    assert(viaKernel.isNullAt(0))
  }

  test("salted join spreads fully-identical duplicate rows of a hot key") {
    import graft.TestSpark.spark.implicits._
    val fact = Seq.fill(256)((1L, "same-payload")).toDF("k", "p")
    val dim = Seq((1L, "d")).toDF("k", "n")
    val out = graft.operators.Skew.saltedJoin(fact, dim, "k", salt = 8)
    assert(out.count() == 256)
    val spread = fact.repartition(8)
      .withColumn("__salt", pmod(xxhash64(monotonically_increasing_id()), lit(8)))
      .select("__salt").distinct().count()
    assert(spread > 1)
  }

  test("putStream writes large payloads without full buffering semantics change") {
    val store = new graft.loaders.FileObjectStore(
      java.nio.file.Files.createTempDirectory("stream_store"))
    val payload = Array.tabulate[Byte](1 << 20)(i => (i % 127).toByte)
    val written = graft.loaders.Loaders.chunkedDownload(
      new java.io.ByteArrayInputStream(payload), store, "big/file.bin")
    assert(written == (1 << 20))
    assert(store.list("big/").size == 1)
  }
}
