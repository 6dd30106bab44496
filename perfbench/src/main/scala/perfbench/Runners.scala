package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import graft.engine.{Batch, Engine, Report, Rows, Status, WireClient}
import graft.sql.Parser

/** One statement's outcome: `status` is ok / report / rows / err;
  * `bytes` counts the response frames on the wire (0 off the wire). */
final case class Res(status: String, msg: String, rows: Seq[Seq[String]],
                     pages: Int, bytes: Long)

/** How a workload reaches the engine: over the wire (untraced run) or
  * through an in-process Engine session with spans (traced run). */
trait Runner {
  /** `span` names the engine layer a DDL/DML statement belongs to. */
  def exec(stmt: String, op: Long, span: String): Res
  def query(stmt: String, op: Long): Res
  def close(): Unit
}

final class WireRunner(port: Int) extends Runner {
  private val client = new WireClient("127.0.0.1", port)

  private def frame(stmt: String): (Seq[String], Long) = {
    val f = client.send(stmt)
    (f, f.map(_.length + 1L).sum)
  }

  def exec(stmt: String, op: Long, span: String): Res = {
    val (f, bytes) = frame(stmt)
    val head = f.head
    if (head.startsWith("+report"))
      Res("report", head.stripPrefix("+report").trim, Nil, 0, bytes)
    else if (head.startsWith("+ok")) Res("ok", head, Nil, 0, bytes)
    else Res("err", head, Nil, 0, bytes)
  }

  def query(stmt: String, op: Long): Res = {
    val (f, b0) = frame(stmt)
    if (!f.head.startsWith("+cursor")) return Res("err", f.head, Nil, 0, b0)
    val cur = f.head.split(" ")(1)
    var bytes = b0
    var pages = 0
    val rows = Seq.newBuilder[Seq[String]]
    var more = true
    while (more) {
      val (page, b) = frame(s"fetch $cur")
      bytes += b
      if (!page.head.startsWith("+batch"))
        return Res("err", page.head, Nil, pages, bytes)
      pages += 1
      more = page.head.split(" ")(2) == "1"
      page.drop(2).foreach(l => rows += l.split("\t", -1).toSeq.map(unesc))
    }
    Res("rows", "", rows.result(), pages, bytes)
  }

  def close(): Unit = client.close()

  private def unesc(s: String): String =
    if (s == "\\N") null
    else if (s.indexOf('\\') < 0) s
    else {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => b += '\n'
            case 't' => b += '\t'
            case 'r' => b += '\r'
            case '\\' => b += '\\'
            case o => b += '\\'; b += o
          }
          i += 2
        } else { b += c; i += 1 }
      }
      b.toString
    }
}

object WireRunner {
  /** A connection to the server on `port`, using `scope`. */
  def apply(port: Int, scope: String): WireRunner = {
    val w = new WireRunner(port)
    w.exec(s"use $scope", 0, "")
    w
  }
}

/** The traced path: the same statements through a session of its own,
  * with a span around each public call (parse, build, cursor open,
  * each page). */
final class EngineRunner(val eng: Engine, val tracer: Tracer) extends Runner {
  private def tr = tracer

  private def parse(stmt: String, op: Long): Unit =
    tr.span("sql.parse", op)(Parser.parse(stmt))

  private def res(r: graft.engine.Result): Res = r match {
    case Status(true, m) => Res("ok", m, Nil, 0, 0)
    case Status(false, m) => Res("err", m, Nil, 0, 0)
    case Report(l, e) => Res("report", s"$l $e", Nil, 0, 0)
    case other => Res("err", s"unexpected $other", Nil, 0, 0)
  }

  def exec(stmt: String, op: Long, span: String): Res = {
    parse(stmt, op)
    res(tr.span(span, op)(eng.sql(stmt)))
  }

  def query(stmt: String, op: Long): Res = {
    parse(stmt, op)
    val df = tr.span("engine.build", op)(eng.sql(stmt)) match {
      case Rows(d) => d
      case other => return res(other)
    }
    val id = tr.span("engine.open_cursor", op)(eng.openCursor(df))
    var pages = 0
    val rows = Seq.newBuilder[Seq[String]]
    var more = true
    while (more) {
      tr.span("engine.fetch_page", op)(eng.sql(s"fetch $id")) match {
        case Batch(rs, schema, m) =>
          pages += 1
          more = m
          rs.foreach(r => rows += cells(r, schema.length))
        case other => return res(other)
      }
    }
    catalystPhases(df, op)
    Res("rows", "", rows.result(), pages, 0)
  }

  /** The Catalyst phases of the returned plan, as Spark's planning
    * tracker timed them where the engine forced them: analysis inside
    * `Engine.sql`, optimization and planning inside `openCursor`.
    * Forcing them here first, in spans of their own, would plan the
    * query before `openCursor` registers its cache, and the cursor
    * would then re-run the whole plan for every page. */
  private def catalystPhases(df: DataFrame, op: Long): Unit = {
    val phases = df.queryExecution.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning");
         s <- phases.get(p))
      tr.value(op, s"catalyst.$p", s.durationMs.toDouble)
  }

  /** Cells rendered exactly as the text wire protocol renders them. */
  private def cells(r: Row, n: Int): Seq[String] =
    (0 until n).map(i => if (r.isNullAt(i)) null else String.valueOf(r.get(i)))

  def close(): Unit = eng.closeSession()
}
