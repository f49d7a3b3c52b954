package graft

class SessionFactorySpec extends SparkTestBase {

  test("s3a tuning matches the reference's production constants") {
    val c = SessionFactory.s3aConf(endpoint = None)
    assert(c("fs.s3a.multipart.size") == "104857600") // 100 MiB
    assert(c("fs.s3a.block.size") == "33554432")      // 32 MiB
    assert(c("fs.s3a.threads.max") == "256")
    assert(!c.contains("fs.s3a.endpoint"))
    val e = SessionFactory.s3aConf(endpoint = Some("http://lake.example:9000"))
    assert(e("fs.s3a.endpoint") == "http://lake.example:9000")
  }

  test("base conf pins UTC, shuffle width and the extensions hook") {
    val c = SessionFactory.baseConf(shufflePartitions = 32)
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.shuffle.partitions") == "32")
    assert(c("spark.sql.extensions") == "graft.GraftExtensions")
    assert(c("spark.sql.autoBroadcastJoinThreshold") == "67108864") // 64 MiB
  }

  test("the test session carries every base conf entry but shuffle width") {
    val c = SessionFactory.baseConf() - "spark.sql.shuffle.partitions"
    c.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("session() retrofits fs settings and SQL functions onto a live context") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // the case under test is "a context already exists": strip what the
    // suite's own SessionFactory session installed, then join it
    val hc0 = spark.sparkContext.hadoopConfiguration
    Seq("fs.s3a.multipart.size", "fs.s3a.block.size", "fs.s3a.threads.max")
      .foreach(hc0.unset)
    spark.sessionState.functionRegistry
      .dropFunction(FunctionIdentifier("graft_fnv64"))
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = SessionFactory.session(endpoint = Some("http://lake.example:9000"))
      val hc = s.sparkContext.hadoopConfiguration
      assert(hc.get("fs.s3a.multipart.size") == "104857600")
      assert(hc.get("fs.s3a.block.size") == "33554432")
      assert(hc.get("fs.s3a.threads.max") == "256")
      assert(hc.get("fs.s3a.endpoint") == "http://lake.example:9000")
      // extensions registered imperatively (builder path can't fire here —
      // the suite's context already exists)
      import s.implicits._
      val h = Seq("x").toDF("t").selectExpr("graft_fnv64(t)").head().getLong(0)
      assert(h != 0L)
    } finally {
      // getOrCreate() returned the SHARED suite session: every base conf
      // entry matches except the shuffle width, and the fake endpoint
      // must not reach later suites
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      hc0.unset("fs.s3a.endpoint")
    }
  }
}
