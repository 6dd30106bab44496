package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import Json._

/** Harness JVM. `run.py` generates the inputs into a work directory
  * and launches this main; it measures, dumps raw samples to
  * `<work>/out.json` (+ per-connection op/row files), and `run.py`
  * checks the answers and computes the metrics.
  *
  * Usage: perfbench.Main <workload> <work-dir> <seconds> <trace 0|1>
  */
object Main {
  final case class Args(workload: String, work: Path, seconds: Int,
                        trace: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), Paths.get(argv(1)).toAbsolutePath,
      argv(2).toInt, argv(3) == "1")
    val loadStart = loadavg()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener =
      if (a.trace) {
        val l = new SpanListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val ctx = new Ctx(spark, a, tracer, listener)
    ctx.mark("session up")

    val body: Seq[(String, J)] = a.workload match {
      case "wire_mixed" => WireMixed.run(ctx)
      case "ingest_bulk" => Ingest.run(ctx)
      case "suite_analytics" => SuiteAnalytics.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.mark("workload done")
    ctx.detachListener()
    val traceJson = listener.map(TraceDump.json(tracer, _))
    val rt = Runtime.getRuntime
    val env = obj(
      "nproc" -> rt.availableProcessors,
      "max_heap_mb" -> rt.maxMemory / (1024.0 * 1024.0),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadavg())
    val out = obj((Seq("env" -> env, "phases_s" -> ctx.phases) ++ body ++
      traceJson.map("trace" -> _)): _*)
    Files.writeString(a.work.resolve("out.json"), render(out), UTF_8)
    spark.stop()
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: java.io.IOException => "" }
}

/** What every workload needs: the session, its arguments, the tracer
  * and the timing / heap / storage probes around the timed phase. */
final class Ctx(val spark: SparkSession, val args: Main.Args,
                val tracer: Tracer, listener: Option[SpanListener]) {
  val work: Path = args.work
  val scopeRoot: Path = work.resolve("scopes")

  private val t0 = System.nanoTime()
  private val marks = Seq.newBuilder[(String, J)]

  /** Marks the end of a harness phase: seconds since start, kept for
    * the record (`phases_s`) and printed to the harness log. */
  def mark(phase: String): Unit = {
    val s = (System.nanoTime() - t0) / 1e9
    marks += phase -> fromDouble(s)
    System.err.println(f"[perfbench] $s%.1f s: $phase")
  }
  def phases: J = obj(marks.result(): _*)

  /** Ends the traced part of a run: waits until the listener has seen
    * every event, then removes it, so later untraced calls pay
    * nothing for it. Idempotent; a no-op in an untraced run. */
  def detachListener(): Unit = listener.foreach { l =>
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
  }

  /** A session of its own, with spans when `traced` and the run is
    * traced, without any otherwise. */
  def engineRunner(scope: String, traced: Boolean = true): EngineRunner = {
    val eng = new graft.engine.Engine(spark, scopeRoot.toString)
    eng.sql(s"use $scope")
    new EngineRunner(eng,
      if (traced) tracer else new Tracer(spark.sparkContext, false))
  }

  /** Drops every cached plan and persisted RDD (the suite does this
    * between queries, after reading the persisted count). */
  def dropCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  def lines(name: String): Seq[String] =
    Files.readAllLines(work.resolve(name), UTF_8).asScala.toSeq
      .filter(_.nonEmpty)

  /** Integer parameter from the `params` file (`name value` lines). */
  def param(name: String): Int =
    lines("params").map(_.split(" ")).collectFirst {
      case Array(`name`, v) => v.toInt
    }.getOrElse(throw new IllegalArgumentException(s"no param $name"))

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMillis: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Driver heap still in use after full collections, with pauses in
    * between for Spark's ContextCleaner to release the broadcasts and
    * shuffles the first collection found unreachable. */
  def heapAfterGcMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Per table under the scope: data files, partition dirs, bytes. */
  def storage(scope: String): J = {
    val tables = scopeRoot.resolve(scope).resolve("tables").toFile
    val rows = Option(tables.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).sortBy(_.getName).map { t =>
        var files, parts, bytes = 0L
        def walk(f: File): Unit =
          if (f.isDirectory) {
            if (f.getName.contains("=")) parts += 1
            Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(walk)
          } else {
            bytes += f.length()
            if (f.getName.endsWith(".parquet")) files += 1
          }
        walk(t)
        t.getName -> obj("files" -> files, "partitions" -> parts,
          "bytes" -> bytes)
      }
    obj(rows.toIndexedSeq: _*)
  }

  /** Appends per-op lines (`ops_<conn>.tsv`) and result rows
    * (`rows_<conn>.tsv`) for the answer check. */
  final class OpLog(conn: Int) {
    val ops = new PrintWriter(Files.newBufferedWriter(
      work.resolve(s"ops_$conn.tsv"), UTF_8))
    val rows = new PrintWriter(Files.newBufferedWriter(
      work.resolve(s"rows_$conn.tsv"), UTF_8))
    def op(fields: Any*): Unit = ops.println(fields.mkString("\t"))
    def row(idx: Int, cells: Seq[String]): Unit =
      rows.println((idx.toString +: cells.map(c =>
        if (c == null) "\\N" else c.replace("\t", " "))).mkString("\t"))
    def close(): Unit = { ops.close(); rows.close() }
  }
}
