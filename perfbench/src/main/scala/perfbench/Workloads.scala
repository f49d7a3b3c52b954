package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipelines._
import graft.sources.Tables

/** The `manifest.json` fixtures.py writes next to a fixture's `raw/`. */
final case class Manifest(tables: Map[String, Long], rawBytes: Long)

object Manifest {
  def load(fixture: File): Manifest = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(new String(
      Files.readAllBytes(new File(fixture, "manifest.json").toPath), UTF_8))
    val JObject(tables) = json \ "tables": @unchecked
    val JInt(raw) = json \ "raw_bytes": @unchecked
    Manifest(tables.collect { case (k, JInt(v)) => k -> v.toLong }.toMap,
      raw.toLong)
  }
}

object LocalFiles {
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Data files (no `_SUCCESS`, `.crc` or hidden files) under `f`. */
  def dataFiles(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
    else Seq(f)
}

/** The paper's own job: the five reference pipelines in overwrite mode
  * over one seeded raw-JSON fixture, called through their `run` entry
  * points with the benchmark's own context and a fixed load timestamp
  * (the `*Main` entry points exit the JVM on failure and stamp rows
  * with wall-clock time).
  */
final class PipelineBatch(fixture: File, work: File, seed: Long,
                          goldens: Goldens, inject: Set[String],
                          record: Boolean)
    extends Workload {

  private val manifest = Manifest.load(fixture)
  private val raw = new File(fixture, "raw").getAbsolutePath
  private val staging = new File(work, "staging").getAbsolutePath
  private val loadTs = new Timestamp(1704153600000L) // 2024-01-02T00:00:00Z

  override val goldenKey = s"pipeline_batch/seed=$seed"
  override def rawBytes: Long = manifest.rawBytes

  private val meetings = Tables.datedGlob(s"$raw/zoom",
    "air-meetings-logs-{date}*/meetings_logs_{date}*.json", "all")
  private val participants = s"$raw/zoom/*-meetings-data/*/participants_*.json"
  private def vk(t: String) = Tables.datedGlob(s"$raw/vk", t, "all")

  private val pipelines: Seq[(String, PipelineContext => Unit)] = Seq(
    "jhub" -> (ctx => JhubPipeline.run(ctx,
      s"$raw/jhub/${PipelineCli.hourGlob(null, all = true)}/*.json")),
    "zoom" -> (ctx => ZoomPipeline.run(ctx, meetings, participants)),
    "zoom_hst" -> (ctx => ZoomPipeline.runHst(ctx, meetings, participants,
      loadTs)),
    "vk" -> (ctx => VkPipeline.run(ctx, vk("*{date}*/gsom_ma.json"),
      vk("*{date}*/members_full_group_gsom_ma.json"),
      vk("*{date}*/wall_owner_id_*.json"), loadTs)),
    "monkey" -> (ctx => MonkeyPipeline.run(ctx,
      s"$raw/monkey/details/survey_*.json",
      s"$raw/monkey/responses/responses_*.json", loadTs)))

  def prepare(spark: SparkSession): Unit = LocalFiles.delete(new File(staging))

  def iterate(spark: SparkSession): Iter = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var rows = 0L
    for ((name, run) <- pipelines) {
      val sink = new TimingSink
      val ctx = new PipelineContext(spark, sink, s"$staging/$name",
        SaveMode.Overwrite)
      val p0 = System.nanoTime()
      Trace.span("pipelines")(run(ctx))
      if (inject("extra_action") && name == "jhub")
        spark.read.parquet(s"$staging/jhub/jhublogs").count()
      layer(s"pipelines.${name}_s") += (System.nanoTime() - p0) / 1e9
      val spans = sink.takeSpans()
      spans.foreach { s =>
        layer("sinks.staging_write_s") += s.stagingS
        layer("sinks.serving_write_s") += s.servingS
        layer("sinks.reconcile_s") += s.reconcileS
      }
      layer("sinks.ddl_calls") += sink.ddlCalls
      val latency = spans.map(s => s.table -> s.seconds).toMap
      val report = ctx.report.toMap
      val expected = manifest.tables.filter(_._1.startsWith(s"$name/"))
      expected.toSeq.sorted.foreach { case (key, want) =>
        val table = key.stripPrefix(s"$name/")
        val lat = latency.getOrElse(table, 0.0)
        ops += (report.get(table) match {
          case Some(Right(r)) =>
            rows += r.rows
            Op(key, lat, r.consistent && r.rows == want,
              s"staged ${r.rows}, served ${r.served}, expected $want")
          case Some(Left(e)) => Op(key, lat, ok = false, e.toString)
          case None => Op(key, lat, ok = false, "table was not staged")
        })
      }
      ops ++= report.collect {
        case (stage, Left(e)) if !expected.contains(s"$name/$stage") =>
          Op(s"$name/$stage", 0, ok = false, e.toString)
      }
    }
    Iter((System.nanoTime() - t0) / 1e9, rows, ops.toSeq, layer.toMap)
  }

  /** Content digests of the staged tables against this seed's goldens.
    * Seeds without goldens skip them (row counts and reconciliation are
    * checked every iteration) unless the run records goldens.
    */
  override def check(spark: SparkSession): Seq[Op] = {
    val golden = goldens.section(goldenKey)
    if (golden.isEmpty && !record) Nil
    else manifest.tables.keys.toSeq.sorted.map { key =>
      val d = Digest.of(spark.read.parquet(s"$staging/$key"))
      observed(key) = d
      Goldens.compare(key, d, golden.get(key), rowsOnly = false)
    }
  }

  override def endState: Map[String, Double] = {
    val files = LocalFiles.dataFiles(new File(staging))
    Map("sinks.staging_files" -> files.size.toDouble,
      "sinks.staging_bytes" -> files.map(_.length).sum.toDouble)
  }
}

/** The reference's hourly jhub cadence as a checkpointed file stream:
  * `JhubPipeline.transform` feeds `Streams.dualSinkZoneStatsStream`, one
  * hour file per micro-batch, appended into a dated staging table that
  * already holds a few days of history. Each iteration drains every hour
  * file; the untimed reset purges the appended day through the empty
  * dated overwrite and clears the checkpoint, so every iteration starts
  * from the same lake.
  */
final class HourlyAppend(fixture: File, work: File) extends Workload {

  private val manifest = Manifest.load(fixture)
  private val raw = new File(fixture, "raw").getAbsolutePath
  private val staging = new File(work, "staging").getAbsolutePath
  private val checkpoint = new File(work, "checkpoint")
  private val store = new File(work, "zone_stats")
  private val day = Date.valueOf("2024-01-10")
  private val history = Seq("2024-01-07", "2024-01-08", "2024-01-09")
    .map(Date.valueOf)
  private val rowsPerDay = manifest.tables("jhublogs")
  private val contract = JhubPipeline.jhublogs

  override def rawBytes: Long = manifest.rawBytes

  private val sink = new TimingSink
  private var schema: StructType = _
  private var ctx: PipelineContext = _
  private var reported = 0

  /** Builds the staging history through the dated `saveTable` path. */
  def prepare(spark: SparkSession): Unit = {
    Seq(new File(staging), checkpoint, store).foreach(LocalFiles.delete)
    schema = spark.read.json(raw).schema
    ctx = new PipelineContext(spark, sink, staging, SaveMode.Append)
    history.foreach { d =>
      val r = ctx.saveTable(JhubPipeline.transform(
        spark.read.schema(schema).json(raw)), contract,
        modeOverride = Some(SaveMode.Overwrite), loadDate = Some(d))
      require(r.consistent && r.rows == rowsPerDay * (history.indexOf(d) + 1),
        s"history day $d: $r")
    }
    sink.takeSpans()
    reported = ctx.report.size
  }

  def iterate(spark: SparkSession): Iter = {
    val stream = JhubPipeline.transform(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(raw))
    val ddlBefore = sink.ddlCalls
    val t0 = System.nanoTime()
    val q = Trace.span("streaming") {
      val q = graft.streaming.Streams.dualSinkZoneStatsStream(stream, ctx,
        contract, checkpoint.getAbsolutePath, day,
        Seq("log_code", "kuber_host"), store.getAbsolutePath).start()
      try q.awaitTermination() catch { case _: Exception => () }
      q
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
           k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble)
      .getOrElse(0.0) / 1e3
    val report = ctx.report.drop(reported)
    reported += report.size
    val byBatch = report.map { case (n, r) => n -> r }.toMap
    val ops = progress.map { p =>
      val r = byBatch.get(s"${contract.table}#${p.batchId}")
      Op(s"batch ${p.batchId}", ms(p, "triggerExecution"),
        r.exists(_.exists(_.consistent)), r.toString)
    } ++ Option(q.exception.orNull).map(e =>
      Op("stream", 0, ok = false, e.toString))
    val spans = sink.takeSpans()
    val addBatch = progress.map(ms(_, "addBatch")).sum
    val layer = Map(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.add_batch_s" -> addBatch,
      "streaming.overhead_s" ->
        progress.map(p => ms(p, "triggerExecution") - ms(p, "addBatch")).sum,
      "streaming.zone_slice_s" -> (addBatch - spans.map(_.seconds).sum),
      "sinks.staging_write_s" -> spans.map(_.stagingS).sum,
      "sinks.serving_write_s" -> spans.map(_.servingS).sum,
      "sinks.reconcile_s" -> spans.map(_.reconcileS).sum,
      "sinks.ddl_calls" -> (sink.ddlCalls - ddlBefore).toDouble)
    Iter(wall, progress.map(_.numInputRows).sum, ops, layer)
  }

  /** Checks the appended day, then purges it: an empty dated overwrite
    * deletes the staging partition and the serving rows together.
    */
  override def reset(spark: SparkSession): Seq[Op] = {
    val table = s"$staging/${contract.table}"
    val dayDir = new File(table, s"load_date=$day")
    val files = LocalFiles.dataFiles(dayDir)
    lastDay = Map("sinks.staging_files" -> files.size.toDouble,
      "sinks.staging_bytes" -> files.map(_.length).sum.toDouble)
    val want = rowsPerDay * (history.size + 1)
    val staged = spark.read.parquet(table).count()
    val counted = Op("final staged count", 0, staged == want,
      s"staged $staged, expected $want")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], contract.schema)
    val purge = ctx.saveTable(empty, contract,
      modeOverride = Some(SaveMode.Overwrite), loadDate = Some(day))
    sink.takeSpans()
    reported = ctx.report.size
    Seq(checkpoint, store).foreach(LocalFiles.delete)
    Seq(counted, Op("purge", 0, purge.consistent &&
      purge.rows == rowsPerDay * history.size, purge.toString))
  }

  private var lastDay = Map.empty[String, Double]
  override def endState: Map[String, Double] = lastDay
}

/** Read-only analytics: production registry queries over the sf0.01
  * test tables, each built through `SparkEntry.queries` and forced
  * through an order-independent digest of every output column. The
  * digest is the output check (row count and digest against the goldens,
  * row count only for `rows_only`) on every pass, and it makes the
  * warm-up pass run the same plans as the timed one. Spark's cache is
  * cleared after every query, outside its timer, so every pass starts
  * equally cold (as `graft.Bench` does). The seed only permutes the
  * query order.
  */
final class QueryMix(dir: File, seed: Long, goldens: Goldens,
                     inject: Set[String]) extends Workload {

  private val path = dir.getAbsolutePath
  private val order = new scala.util.Random(seed).shuffle(
    QueryMix.Queries ++ (if (inject("bad_query")) Seq("no_such_query")
      else Nil))
  private val golden = goldens.section("query_mix")

  override val goldenKey = "query_mix"

  def prepare(spark: SparkSession): Unit = ()

  def iterate(spark: SparkSession): Iter = {
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ops = order.map { q =>
      val q0 = System.nanoTime()
      val op = try Trace.span("queries", s"queries.$q") {
        val df = Trace.span("queries", "queries.build") {
          graft.SparkEntry.queries(q)(spark, path)
        }
        layer("queries.build_s") += (System.nanoTime() - q0) / 1e9
        val d = Digest.of(df)
        observed(q) = d
        Goldens.compare(q, d, golden.get(q), goldens.rowsOnly(q))
      } catch { case e: Exception => Op(q, 0, ok = false, e.toString) }
      val s = (System.nanoTime() - q0) / 1e9
      spark.catalog.clearCache()
      layer(s"queries.${q}_s") += s
      op.copy(name = q, seconds = s)
    }
    Iter(ops.map(_.seconds).sum, observed.values.map(Digest.rows).sum,
      ops, layer.toMap)
  }
}

object QueryMix {
  /** Production queries, one per operator family: aggregation, interval
    * join, the one-core profile family, retrieval over a cached index, ANN
    * with eager pins, the capped near-duplicate pair graph ranked by an
    * eager driver loop, and a media kernel.
    */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q_range_join", "table_profile", "bm25_search",
    "embed_near_dup_ivf_scaled", "doc_pagerank_capped",
    "media_audio_features")
}
