package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One operation a workload attempted: a staged table, a micro-batch or
  * a query. `seconds` is its latency; `ok` is false when it threw or
  * failed its output check.
  */
final case class Op(name: String, seconds: Double, ok: Boolean,
                    detail: String = "")

/** One timed iteration: its wall time, the rows it produced, its
  * operations and the per-layer numbers the workload saw itself.
  */
final case class Iter(wall: Double, rows: Long, ops: Seq[Op],
                      layer: Map[String, Double] = Map.empty)

/** A benchmark workload. The harness starts a session, calls
  * [[prepare]], runs one warm-up and then the timed [[iterate]] calls
  * with [[reset]] after each, and finally [[check]]s the outputs.
  */
trait Workload {
  /** Section of `goldens.json` this workload's digests belong to. */
  def goldenKey: String = ""
  /** Digests this run observed, by table or query. */
  val observed: scala.collection.mutable.Map[String, String] =
    scala.collection.mutable.Map.empty
  /** Raw input bytes one iteration reads (0: no raw input). */
  def rawBytes: Long = 0L

  /** State the first iteration needs (part of `setup_s`). */
  def prepare(spark: SparkSession): Unit
  def iterate(spark: SparkSession): Iter
  /** Untimed: check an iteration's outputs and bring the lake back to
    * the state [[iterate]] starts from.
    */
  def reset(spark: SparkSession): Seq[Op] = Nil
  /** Untimed output checks after the timed iterations. */
  def check(spark: SparkSession): Seq[Op] = Nil
  /** Per-layer numbers read from the lake after the run. */
  def endState: Map[String, Double] = Map.empty
}

/** Entry point. Usage:
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --goldens FILE
  *                (--fixture DIR | --data DIR) [--inject X] [--record 1]
  * }}}
  * Prints one line `PERFBENCH_RESULT {json}`; run.py relays the JSON.
  */
object Main {

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.SessionFactory.session(appName = "perfbench",
      master = Some(s"local[$cores]"))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    run(args)
  }

  private def run(args: Map[String, String]): Unit = {
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val work = new File(args("work"))
    val inject = args.get("inject").toSet
    val goldens = Goldens.load(new File(args("goldens")))
    val cores = Runtime.getRuntime.availableProcessors

    val workload: Workload = args("workload") match {
      case "pipeline_batch" => new PipelineBatch(new File(args("fixture")),
        work, seed, goldens, inject, args.contains("record"))
      case "hourly_append" => new HourlyAppend(new File(args("fixture")),
        work)
      case "query_mix" => new QueryMix(new File(args("data")), seed,
        goldens, inject)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }

    // set-up: one session start, the workload's prepare and one warm-up
    // iteration with its reset
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    val spark = session()
    workload.prepare(spark)
    val startS = (System.nanoTime() - t0) / 1e9
    ops ++= workload.iterate(spark).ops
    ops ++= workload.reset(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] session start and prepare $startS%.3f s; " +
      f"set-up $setupS%.3f s")

    val tracer = if (args("trace") == "1") Some(Trace.install(spark)) else None
    Trace.current = tracer
    val iters = ArrayBuffer.empty[Iter]
    val start = System.nanoTime()
    while (iters.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      tracer.foreach(_.beginIteration())
      val it = workload.iterate(spark)
      tracer.foreach(_.endIteration())
      iters += it
      ops ++= it.ops
      System.err.println(f"[perfbench] iteration ${iters.size}: ${it.wall}%.3f s; " +
        it.ops.map(o => f"${o.name} ${o.seconds}%.3f").mkString(", "))
      ops ++= workload.reset(spark)
    }
    ops ++= workload.check(spark)

    val failed = ops.filterNot(_.ok)
    failed.foreach(o => System.err.println(
      s"[perfbench] FAILED ${o.name}: ${o.detail}"))
    val walls = iters.map(_.wall).toSeq
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", Stats.median(walls), "s"),
          ("rows_per_s", Stats.median(iters.map(i => i.rows / i.wall).toSeq),
            "1/s"))
      case Some(tr) =>
        tr.drain()
        val n = iters.size
        val own = iters.flatMap(_.layer.keys).distinct.map(k =>
          k -> iters.map(_.layer.getOrElse(k, 0.0)).sum / n).toMap
        val end = workload.endState
        def perRaw(bytes: Double) =
          if (workload.rawBytes > 0) bytes / workload.rawBytes else 0.0
        val traced = tr.layerMetrics(walls.sum, cores, n)
        val layer = traced ++ own ++ end ++ Map(
          "trace.wall_s" -> Stats.median(walls),
          "sources.read_amplification" ->
            perRaw(traced.getOrElse("sources.json_scan_bytes", 0.0)),
          "sinks.staged_bytes_per_raw_byte" ->
            perRaw(end.getOrElse("sinks.staging_bytes", 0.0)),
          "exec.cache_entries_left" ->
            spark.sparkContext.getPersistentRDDs.size.toDouble,
          "exec.peak_rss_mb" -> Stats.peakRssMb())
        Trace.PerLayer.map { case (name, unit) =>
          (name, layer.getOrElse(name, 0.0), unit) }
    }
    spark.stop()
    if (workload.observed.nonEmpty)
      Goldens.writeObserved(work, workload.goldenKey, workload.observed)
    val metricsJson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": ${failed.isEmpty}, "attempted": ${
      ops.size}, "failed": ${failed.size}, "metrics": {$metricsJson}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this JVM (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString
}
