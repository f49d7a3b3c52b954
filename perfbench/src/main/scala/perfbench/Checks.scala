package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.sinks.{MockServingSink, ServingSink}

/** Order-independent content digest: `rows:sum(xxhash64(row))`. The sum
  * is exact (decimal), so it does not depend on partitioning or row
  * order; column order and every value do count.
  */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .first()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}

/** Goldens recorded on the seed code (`goldens.json`): staged-table
  * digests for named seeds of the pipeline workloads, and per-query
  * digests for query_mix. `rows_only` lists the queries whose digest does
  * not repeat from run to run; only their row count is checked.
  */
final case class Goldens(sections: Map[String, Map[String, String]],
                         rowsOnly: Set[String]) {
  def section(key: String): Map[String, String] =
    sections.getOrElse(key, Map.empty)
}

object Goldens {
  def load(f: File): Goldens = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(f.toPath), UTF_8))
    val JObject(fields) = json: @unchecked
    val sections = fields.collect { case (k, JObject(kv)) =>
      k -> kv.collect { case (t, JString(d)) => t -> d }.toMap }.toMap
    val rowsOnly = fields.collectFirst { case ("rows_only", JArray(xs)) =>
      xs.collect { case JString(s) => s }.toSet }.getOrElse(Set.empty)
    Goldens(sections, rowsOnly)
  }

  /** Write what this run observed, so run.py can record goldens. */
  def writeObserved(work: File, key: String,
                    observed: collection.Map[String, String]): Unit = {
    val body = observed.toSeq.sorted.map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString(",\n")
    Files.write(new File(work, "observed.json").toPath,
      s"""{"$key": {\n$body\n}}\n""".getBytes(UTF_8))
  }

  /** One check of an observed digest against its golden (if recorded). */
  def compare(name: String, observed: String, golden: Option[String],
              rowsOnly: Boolean): Op = golden match {
    case None => Op(s"check:$name", 0, ok = true)
    case Some(g) =>
      val ok = if (rowsOnly) Digest.rows(g) == Digest.rows(observed)
        else g == observed
      Op(s"check:$name", 0, ok, s"observed $observed, golden $g")
  }
}

/** The serving sink a workload injects into `PipelineContext`: the
  * in-memory mock (the harness has no serving database) behind a wrapper
  * that times the dual-sink stages of every `saveTable` from outside.
  *
  * A `saveTable` call issues DDL first, then the staging write, then the
  * serving write, then the reconcile (staging recount + serving count),
  * so the sink's own call boundaries split it into those three spans.
  */
final class TimingSink extends ServingSink {
  final case class Span(table: String, start: Long, servingStart: Long,
                        servingEnd: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
    def stagingS: Double = (servingStart - start) / 1e9
    def servingS: Double = (servingEnd - servingStart) / 1e9
    def reconcileS: Double = (end - servingEnd) / 1e9
  }

  private val inner = new MockServingSink
  private var open = -1L
  private var servingStart, servingEnd = 0L
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]

  override def execute(sql: String): Unit = synchronized {
    if (open < 0) open = System.nanoTime()
    inner.execute(sql)
  }
  private def serving(body: => Unit): Unit = {
    servingStart = System.nanoTime()
    body
    servingEnd = System.nanoTime()
  }
  override def write(df: DataFrame, table: String, mode: SaveMode): Unit =
    serving(inner.write(df, table, mode))
  override def writeDated(df: DataFrame, table: String, mode: SaveMode,
                          dateCol: String, date: java.sql.Date): Unit =
    serving(inner.writeDated(df, table, mode, dateCol, date))
  override def count(table: String): Long = {
    val n = inner.count(table)
    synchronized {
      if (open >= 0) done += Span(table, open, servingStart, servingEnd,
        System.nanoTime())
      open = -1
    }
    n
  }

  /** The completed `saveTable` spans since the last call. */
  def takeSpans(): Seq[Span] = synchronized {
    val s = done.toList
    done.clear()
    s
  }

  def ddlCalls: Int = inner.ddl.size
}
