package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.engine.Server
import Json._

/** Shared by the engine workloads: timed scope set-ups (the last one
  * is kept for the run) and the per-op log line. */
object Scopes {
  /** Runs `setup.sql` into `reps` fresh scopes named `<prefix><r>`;
    * returns each set-up's wall seconds and the last one's outcomes. */
  def setUp(ctx: Ctx, prefix: String, reps: Int): (Seq[Double], J) = {
    val stmts = ctx.lines("setup.sql")
    var outcomes: J = arr()
    val walls = (0 until reps).map { r =>
      val scope = s"$prefix$r"
      val eng = new graft.engine.Engine(ctx.spark, ctx.scopeRoot.toString)
      val runner = new EngineRunner(eng, ctx.tracer)
      val t0 = System.nanoTime()
      val res = stmts.map { s =>
        val st = s.replace("{scope}", scope)
        val span = if (st.startsWith("load")) "engine.load" else "engine.ddl"
        ctx.tracer.span("op", -(r + 1L))(runner.exec(st, -(r + 1L), span))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      runner.close()
      outcomes = arr(res.map(x => arr(x.status, x.msg)): _*)
      wall
    }
    (walls, outcomes)
  }

  def logOp(log: Ctx#OpLog, ctx: Ctx, idx: Int, cls: String, t0: Long,
            t1: Long, r: Res): Unit = {
    log.op(idx, cls, t0, t1, r.status,
      r.msg.replaceAll("[\t\r\n]", " "), r.rows.size, r.pages, r.bytes,
      ctx.persistedRdds)
    r.rows.foreach(log.row(idx, _))
  }

  /** One untraced repetition of a traced statement, for the tracing
    * overhead: its key, untraced in-process time, wire time, wire
    * bytes and rows (-1 off the wire) and both outcomes. */
  def replayRow(key: J, engNs: Long, eng: Res, wire: Option[(Long, Res)]): J =
    wire match {
      case Some((ns, w)) =>
        arr(key, engNs, ns, w.bytes, w.rows.size, eng.status, w.status)
      case None => arr(key, engNs, -1L, -1L, -1L, eng.status, "")
    }
}

/** Closed loop of seeded read / edge_read / write statements from
  * `stream_<c>.tsv` (class, kind q|x, statement) over `conns`
  * connections to an in-process Server (in the traced run, each
  * connection drives an in-process session of its own instead). Each
  * connection first runs its `warm` leading statements untimed
  * (logged, and checked, but not measured), then the rest until the
  * time is up. No cache is dropped between statements. */
object WireMixed {
  def run(ctx: Ctx): Seq[(String, J)] = {
    val conns = ctx.param("conns")
    val warm = ctx.param("warm")
    val (setupWalls, setupOut) = Scopes.setUp(ctx, "mix", 3)
    ctx.mark("set-up done")
    val scope = "mix2"
    val storageSetup = ctx.storage(scope)
    val server = new Server(ctx.spark, ctx.scopeRoot.toString).start()
    val port = server.boundPort
    val streams = (0 until conns).map(c =>
      ctx.lines(s"stream_$c.tsv").map(_.split("\t", 3)))
    val timedEnd = new Array[Int](conns) // first statement not run
    val ready = new CountDownLatch(conns)
    val go = new CountDownLatch(1)
    @volatile var deadline = 0L
    val errors = new ConcurrentLinkedQueue[String]()
    val threads = (0 until conns).map { c =>
      val t = new Thread(() => try {
        val stream = streams(c)
        val log = new ctx.OpLog(c)
        val runner: Runner =
          if (ctx.tracer.enabled) ctx.engineRunner(scope)
          else WireRunner(port, scope)
        var i = 0
        def step(): Unit = {
          val Array(cls, kind, stmt) = stream(i)
          val op = c * 1000000L + i
          val t0 = System.nanoTime()
          val r = ctx.tracer.span("op", op) {
            if (kind == "q") runner.query(stmt, op)
            else runner.exec(stmt, op, "engine.write")
          }
          Scopes.logOp(log, ctx, i, cls, t0, System.nanoTime(), r)
          i += 1
        }
        while (i < warm) step()
        ready.countDown(); go.await()
        while (System.nanoTime() < deadline && i < stream.length) step()
        timedEnd(c) = i
        runner.close()
        log.close()
      } catch {
        case e: Throwable =>
          errors.add(s"conn $c: $e"); ready.countDown()
      }, s"perfbench-conn-$c")
      t.start(); t
    }
    ready.await()
    ctx.mark("warm-up done")
    val gc0 = ctx.gcMillis
    val start = System.nanoTime()
    deadline = start + ctx.args.seconds * 1000000000L
    go.countDown()
    threads.foreach(_.join())
    val timed = (System.nanoTime() - start) / 1e9
    val gcMs = ctx.gcMillis - gc0
    ctx.mark("timed phase done")
    val persistedEnd = ctx.persistedRdds
    val heap = ctx.heapAfterGcMb()
    val storageRun = ctx.storage(scope)
    val replay =
      if (ctx.tracer.enabled)
        replayReads(ctx, scope, port, streams, warm, timedEnd, errors)
      else Nil
    server.stop()
    Seq(
      "setup_walls_s" -> arr(setupWalls.map(fromDouble): _*),
      "setup_outcomes" -> setupOut,
      "timed_s" -> timed,
      "gc_ms" -> gcMs,
      "persisted_rdds_end" -> persistedEnd,
      "heap_after_gc_mb" -> heap,
      "storage_after_setup" -> storageSetup,
      "storage_after_run" -> storageRun,
      "replay" -> arr(replay: _*),
      "errors" -> arr(errors.asScala.toSeq.map(str): _*))
  }

  /** Traced run only, after the timed phase: each connection repeats
    * its timed reads through an untraced session of its own and over
    * the wire (alternating which goes first), for the run's seconds at
    * most. Same statements, same path, same load of four concurrent
    * statements: the traced against the untraced time is the tracing
    * overhead, the wire against the untraced time the wire's share. */
  private def replayReads(ctx: Ctx, scope: String, port: Int,
                          streams: Seq[Seq[Array[String]]], warm: Int,
                          timedEnd: Array[Int],
                          errors: ConcurrentLinkedQueue[String]): Seq[J] = {
    ctx.detachListener()
    val rows = new ConcurrentLinkedQueue[J]()
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    val threads = streams.indices.map { c =>
      val t = new Thread(() => try {
        val eng = ctx.engineRunner(scope, traced = false)
        val wire = WireRunner(port, scope)
        def timed(r: Runner, stmt: String): (Long, Res) = {
          val t0 = System.nanoTime()
          val res = r.query(stmt, 0)
          (System.nanoTime() - t0, res)
        }
        var i = warm
        while (i < timedEnd(c) && System.nanoTime() < deadline) {
          val Array(_, kind, stmt) = streams(c)(i)
          if (kind == "q") {
            val (e, w) =
              if (i % 2 == 0) { val e = timed(eng, stmt); (e, timed(wire, stmt)) }
              else { val w = timed(wire, stmt); (timed(eng, stmt), w) }
            rows.add(Scopes.replayRow(c * 1000000L + i, e._1, e._2, Some(w)))
          }
          i += 1
        }
        eng.close(); wire.close()
      } catch {
        case e: Throwable => errors.add(s"replay $c: $e")
      }, s"perfbench-replay-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    ctx.mark("replay done")
    rows.asScala.toSeq
  }
}

/** The write path alone: cycles of `cycle.sql` (kind, class,
  * statement with `{k}`) — fresh types and edges, LOADs, an
  * INSERT … SELECT copy, copy-on-write UPDATE / DELETE and the
  * check queries. Cycle 0 runs untimed (warm-up; logged and checked,
  * not measured); timed cycles follow until the time is up, and a
  * cycle always completes. The traced run ends with one more cycle
  * through an untraced session, for the tracing overhead. */
object Ingest {
  def run(ctx: Ctx): Seq[(String, J)] = {
    val (setupWalls, setupOut) = Scopes.setUp(ctx, "ing", 3)
    ctx.mark("set-up done")
    val scope = "ing2"
    val storageSetup = ctx.storage(scope)
    val cycle = ctx.lines("cycle.sql").map(_.split("\t", 3))
    val server =
      if (ctx.tracer.enabled) None
      else Some(new Server(ctx.spark, ctx.scopeRoot.toString).start())
    val runner: Runner = server match {
      case Some(s) => WireRunner(s.boundPort, scope)
      case None => ctx.engineRunner(scope)
    }
    val log = new ctx.OpLog(0)
    def runCycle(k: Int, r: Runner, tr: Tracer)(
        done: (Int, String, Long, Long, Res) => Unit): Unit =
      cycle.zipWithIndex.foreach { case (Array(kind, cls, st), j) =>
        val stmt = st.replace("{k}", k.toString)
        val idx = k * 1000 + j
        val span = cls match {
          case "load" => "engine.load"
          case "rewrite" => "engine.rewrite"
          case "ddl" => "engine.ddl"
          case _ => "engine.write"
        }
        val t0 = System.nanoTime()
        val res = tr.span("op", idx) {
          if (kind == "q") r.query(stmt, idx) else r.exec(stmt, idx, span)
        }
        done(idx, cls, t0, System.nanoTime(), res)
      }
    def logged(idx: Int, cls: String, t0: Long, t1: Long, r: Res): Unit =
      Scopes.logOp(log, ctx, idx, cls, t0, t1, r)
    runCycle(0, runner, ctx.tracer)(logged)
    ctx.mark("warm-up done")
    val gc0 = ctx.gcMillis
    val start = System.nanoTime()
    val deadline = start + ctx.args.seconds * 1000000000L
    var k = 1
    while (k == 1 || System.nanoTime() < deadline) {
      runCycle(k, runner, ctx.tracer)(logged)
      k += 1
    }
    val timed = (System.nanoTime() - start) / 1e9
    val gcMs = ctx.gcMillis - gc0
    ctx.mark("timed phase done")
    runner.close(); log.close()
    server.foreach(_.stop())
    val persistedEnd = ctx.persistedRdds
    val heap = ctx.heapAfterGcMb()
    val storageRun = ctx.storage(scope)
    val replay = Seq.newBuilder[J]
    if (ctx.tracer.enabled) {
      ctx.detachListener()
      val off = ctx.engineRunner(scope, traced = false)
      runCycle(k, off, off.tracer) { (idx, _, t0, t1, r) =>
        replay += Scopes.replayRow(idx % 1000, t1 - t0, r, None)
      }
      off.close()
      ctx.mark("replay done")
    }
    Seq(
      "setup_walls_s" -> arr(setupWalls.map(fromDouble): _*),
      "setup_outcomes" -> setupOut,
      "timed_s" -> timed,
      "cycles" -> (k - 1),
      "gc_ms" -> gcMs,
      "persisted_rdds_end" -> persistedEnd,
      "heap_after_gc_mb" -> heap,
      "storage_after_setup" -> storageSetup,
      "storage_after_run" -> storageRun,
      "replay" -> arr(replay.result(): _*))
  }
}

/** A fixed list of SparkEntry queries (`suite.tsv`: family, name) over
  * the generated tables, in-process, each through the noop sink.
  * Set-up runs every query once on each of three identical copies of
  * the tables (`data_<r>`): first compilation and every memoized
  * artifact are paid there; the first set-up writes each query's rows
  * to `results/<name>` for the answer check instead of to the noop
  * sink. The timed phase then
  * runs passes over the last copy until the time is up (the first pass
  * always completes), each pass in the seeded order of its line of
  * `suite_order.tsv`. After each query the persisted-RDD count is read,
  * then the caches are dropped. The traced run then makes one untraced
  * pass, for the tracing overhead. */
object SuiteAnalytics {
  def run(ctx: Ctx): Seq[(String, J)] = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val family = ctx.lines("suite.tsv").map(_.split("\t"))
      .map { case Array(f, n) => n -> f }.toMap
    val names = ctx.lines("suite.tsv").map(_.split("\t")(1))
    val orders = ctx.lines("suite_order.tsv").map(_.split("\t").toSeq)
    val oracles = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> str(_)))
    Files.writeString(ctx.work.resolve("oracle_sql.json"),
      render(obj(oracles: _*)), UTF_8)
    val errors = new ConcurrentLinkedQueue[String]()
    def data(r: Int) = ctx.work.resolve(s"data_$r").toString
    /** Runs query `n` over `dir` through the noop sink, or writes its
      * rows as parquet to `rows`. */
    def runQuery(n: String, dir: String, idx: Int, tr: Tracer,
                 rows: Option[Path] = None): (Long, Long, Res) = {
      val t0 = System.nanoTime()
      val status =
        try {
          tr.span("op", idx) {
            val df = tr.span("operators.build", idx)(queries(n)(spark, dir))
            val w = df.write.mode("overwrite")
            rows match {
              case Some(p) => w.parquet(p.toString)
              case None => tr.span("sink.noop", idx)(w.format("noop").save())
            }
          }
          "ok"
        } catch { case e: Exception => errors.add(s"$n: $e"); "err" }
      (t0, System.nanoTime(), Res(status, n, Nil, 0, 0))
    }
    // the first set-up writes each query's rows for the answer check
    // instead: on a cold JVM it is always the slowest of the three, so
    // its other sink never reaches the median
    var outcomes: Seq[J] = Nil
    val setupWalls = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      outcomes = names.zipWithIndex.map { case (n, i) =>
        val sink = if (r == 0) Some(ctx.work.resolve("results").resolve(n)) else None
        val (_, _, res) = runQuery(n, data(r), -(i + 1), ctx.tracer, sink)
        ctx.dropCaches()
        arr(n, res.status)
      }
      (System.nanoTime() - t0) / 1e9
    }
    ctx.mark("set-up done")
    val log = new ctx.OpLog(0)
    val gc0 = ctx.gcMillis
    val start = System.nanoTime()
    val deadline = start + ctx.args.seconds * 1000000000L
    // the first pass always completes, so every query has a sample
    var p, i = 0
    while (p == 0 || System.nanoTime() < deadline) {
      val n = orders(p % orders.size)(i)
      val (t0, t1, r) = runQuery(n, data(2), p * 1000 + i, ctx.tracer)
      Scopes.logOp(log, ctx, p * 1000 + i, family(n), t0, t1, r)
      ctx.dropCaches()
      i += 1
      if (i == names.size) { i = 0; p += 1 }
    }
    val timed = (System.nanoTime() - start) / 1e9
    val gcMs = ctx.gcMillis - gc0
    log.close()
    ctx.mark("timed phase done")
    val persistedEnd = ctx.persistedRdds
    val heap = ctx.heapAfterGcMb()
    val replay = Seq.newBuilder[J]
    if (ctx.tracer.enabled) {
      ctx.detachListener()
      val off = new Tracer(spark.sparkContext, false)
      orders.head.zipWithIndex.foreach { case (n, j) =>
        val (t0, t1, r) = runQuery(n, data(2), (p + 1) * 1000 + j, off)
        replay += Scopes.replayRow(n, t1 - t0, r, None)
        ctx.dropCaches()
      }
      ctx.mark("replay done")
    }
    Seq(
      "setup_walls_s" -> arr(setupWalls.map(fromDouble): _*),
      "setup_outcomes" -> arr(outcomes: _*),
      "timed_s" -> timed,
      "passes" -> (p + i / names.size.toDouble),
      "gc_ms" -> gcMs,
      "persisted_rdds_end" -> persistedEnd,
      "heap_after_gc_mb" -> heap,
      "replay" -> arr(replay.result(): _*),
      "errors" -> arr(errors.asScala.toSeq.map(str): _*))
  }
}
