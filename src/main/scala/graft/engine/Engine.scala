package graft.engine

import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.catalog.Catalog
import graft.catalog.Catalog.{Prop, Scope}
import graft.sql.{Ast, ExprBuilder, Parser}
import graft.sql.Ast._
import graft.functions.{IntegralAggregator, NowFunctions}

/** Result ADT mirroring the reference's statement results
  * (query/stmt.c:2543-2590: status / report / row / cursor). */
sealed trait Result
case class Status(ok: Boolean, msg: String = "") extends Result
case class Report(loaded: Long, errors: Long) extends Result
case class Rows(df: DataFrame) extends Result
case class CursorRef(id: Long) extends Result
case class Batch(rows: Seq[Row], schema: StructType, more: Boolean)
    extends Result

/** The engine facade: `Engine.sql(statement)` — parse → dispatch →
  * DataFrame program (SURVEY §3.1 pipeline re-expressed Spark-first:
  * the "planner" is the AST→DataFrame builder; Catalyst takes it from
  * there). One Engine = one session (current scope, held locks, open
  * cursors); scopes/catalogs/tables persist under `root` and are
  * shared across sessions via the filesystem, like the reference's
  * scope directories.
  */
class Engine(val spark: SparkSession, root: String,
             cursorPageSize: Int = 1000) {

  private var current: Option[Scope] = None
  private val attached = mutable.Map.empty[String, DataFrame]
  private val procs =
    mutable.Map.empty[String, (Engine, Seq[Any]) => Result]
  private val cursors =
    mutable.Map.empty[Long, (Iterator[Row], StructType, DataFrame)]
  private val heldLocks = mutable.Map.empty[String, (Engine.SessionRWLock, Boolean)]
  private val cursorSeq = new java.util.concurrent.atomic.AtomicLong(0)

  spark.udf.register("now_integral", udaf(new IntegralAggregator))

  // built-in pipeline procedures (dedup/ANN/curation over scope
  // tables) — preinstalled per session like the reference's proc
  // manager modules; see PipelineProcs
  PipelineProcs.install(this)

  private val attachedTimeCols = mutable.Map.empty[String, Set[String]]

  /** Mount an external DataFrame as a queryable table (tests, bench,
    * federating parquet without DDL). Pass `timeCols` for ns-long
    * stamp columns so time-literal coercion applies to them. */
  def attachTable(name: String, df: DataFrame,
                  timeCols: Set[String] = Set.empty): Unit = {
    attached += name.toLowerCase -> df
    attachedTimeCols += name.toLowerCase -> timeCols.map(_.toLowerCase)
  }

  def registerProcedure(name: String,
                        fn: (Engine, Seq[Any]) => Result): Unit =
    procs += name.toLowerCase -> fn

  /** Table names of the current scope (types + edges + attached),
    * empty when no scope is selected — lets integrations (e.g.
    * [[GraftExtensions]]) mirror the scope as Spark temp views. */
  def scopeTables: Seq[String] = current match {
    case None => attached.keys.toSeq
    case Some(s) =>
      (s.types.keys ++ s.edges.keys ++ attached.keys).toSeq.distinct
  }

  /** Whether `name` is a scope in this engine's catalog root — lets
    * the parser integration route `USE` to the engine only when the
    * target actually is a scope (Spark's own USE <database> keeps
    * working otherwise). */
  def hasScope(name: String): Boolean = Catalog.exists(root, name)

  /** Does every base table `st` references resolve in THIS engine
    * (scope tables, attached frames, stored views), with the WITH
    * bindings' own names excluded? Routing aid for the injectParser
    * front door (r15 verdict task 7): a front-door `WITH RECURSIVE`
    * runs the engine's semi-naive fixpoint — including the
    * UNION-distinct cyclic mode Spark 4.1's native recursion does
    * not support — exactly when its targets are engine tables;
    * Spark-catalog-only queries stay on Spark's native path. */
  private[engine] def resolvesAllTables(st: Statement): Boolean = {
    val cteNames = st match {
      case w: WithStmt => w.bindings.map(_.name.toLowerCase).toSet
      case _ => Set.empty[String]
    }
    val names = referencedTables(st).map(_.toLowerCase).toSet -- cteNames
    names.nonEmpty && names.forall(n =>
      attached.contains(n) || resolveView(n).isDefined ||
        current.exists(_.resolve(n).isDefined))
  }

  def sql(statement: String): Result =
    try run(Parser.parse(statement))
    catch {
      case e: Parser.ParseError => Status(ok = false, e.getMessage)
      case e: IllegalArgumentException => Status(ok = false, e.getMessage)
      case e: IllegalStateException => Status(ok = false, e.getMessage)
      // user-reachable semantic mistakes Spark only flags at analysis
      // time (e.g. grouping() without ROLLUP/CUBE) — a clean Status,
      // not an uncaught exception
      case e: org.apache.spark.sql.AnalysisException =>
        Status(ok = false, e.getMessage)
    }

  /** Run a whole `;`-separated script; stops at first failure. */
  def script(statements: String): Seq[Result] = {
    val stmts = Parser.parseScript(statements)
    val out = mutable.ArrayBuffer.empty[Result]
    var failed = false
    stmts.foreach { st =>
      if (!failed) {
        val r = run(st)
        out += r
        r match {
          case Status(false, _) => failed = true
          case _ =>
        }
      }
    }
    out.toSeq
  }

  private def scope: Scope = current.getOrElse(
    throw new IllegalStateException("no scope selected — USE <scope>"))

  private def run(st: Statement): Result = st match {
    // ── DDL ──────────────────────────────────────────────────────────
    case CreateScope(name, ine) =>
      if (Catalog.exists(root, name)) {
        if (ine) Status(ok = true, "exists") else
          Status(ok = false, s"scope $name exists")
      } else {
        val s = Catalog.open(root, name); s.save(); Status(ok = true)
      }
    case UseScope(name) =>
      if (!Catalog.exists(root, name))
        Status(ok = false, s"no scope $name")
      else { current = Some(Catalog.open(root, name)); Status(ok = true) }
    case CreateType(name, props, ine) =>
      val s = scope
      if (s.types.contains(name)) {
        if (ine) Status(ok = true, "exists")
        else Status(ok = false, s"type $name exists")
      } else if (props.count(_.pk) != 1)
        Status(ok = false, "type needs exactly one primary key")
      else {
        s.types += name -> Catalog.VertexType(name,
          props.map(p => Prop(p.name, p.typ, p.pk, p.stamp)))
        s.save(); Status(ok = true)
      }
    case CreateEdge(name, o, d, stamped, payload, ine) =>
      val s = scope
      if (s.edges.contains(name)) {
        if (ine) Status(ok = true, "exists")
        else Status(ok = false, s"edge $name exists")
      } else if (!s.types.contains(o) || !s.types.contains(d))
        Status(ok = false, s"edge $name: unknown origin/destin type")
      else {
        s.edges += name -> Catalog.EdgeType(name, o, d, stamped,
          payload.map(p => Prop(p.name, p.typ, pk = false, stamp = false)))
        s.save(); Status(ok = true)
      }
    case CreateView(name, viewSql, ine) =>
      val s = scope
      if (s.views.keys.exists(_.equalsIgnoreCase(name)))
        if (ine) Status(ok = true, "exists")
        else Status(ok = false, s"view $name exists")
      else if (s.resolve(name).isDefined)
        Status(ok = false, s"view $name collides with a table")
      else {
        // validate eagerly: the body must parse as a SELECT and
        // resolve against the current catalog (schema probe only —
        // .schema analyzes the plan without running a job)
        Parser.parse(viewSql) match {
          case st @ (_: SelectStmt | _: WithStmt | _: SetOpStmt) =>
            buildDql(st).schema
          case _ =>
            return Status(ok = false, s"view $name: body is not SELECT")
        }
        s.views += name -> viewSql
        s.save(); Status(ok = true)
      }
    case CreateStorage(name, _, opts, ine) =>
      val s = scope
      if (s.storages.contains(name) && !ine)
        Status(ok = false, s"storage $name exists")
      else {
        s.storages += name -> Catalog.StorageDef(name, opts)
        s.save(); Status(ok = true)
      }
    case CreateIndex(name, on, fields, ine) =>
      val s = scope
      if (s.indexes.contains(name) && !ine)
        Status(ok = false, s"index $name exists")
      else if (s.resolve(on).isEmpty)
        Status(ok = false, s"index on unknown table $on")
      else {
        s.indexes += name -> Catalog.IndexDef(name, on, fields)
        s.save()
        // Catalyst needs no B⁺-tree, but the index INTENT (cluster by
        // these keys — reference index/index.h) maps to a physical
        // reorganization: range-repartition + sort by the index fields
        // so parquet row-group min/max stats skip on those columns.
        // The reference's background sorter is the same idea applied
        // to its pending files (store/storewrk.c:470-530).
        val (_, tname) = s.resolve(on).get
        if (Files.exists(s.tableDir(tname)))
          rewrite(tname) { (df, _) =>
            df.repartitionByRange(fields.map(col): _*)
              .sortWithinPartitions(fields.map(col): _*)
          } match {
            case st @ Status(false, _) => return st
            case _ =>
          }
        Status(ok = true)
      }
    case CreateProcedure(module, name, args, lang, _) =>
      val s = scope
      s.procs += name -> Catalog.ProcDef(module, name, args, lang)
      s.save(); Status(ok = true)
    case CreateLock(name, ine) =>
      val s = scope
      if (s.locks.contains(name) && !ine)
        Status(ok = false, s"lock $name exists")
      else { s.locks += name; s.save(); Status(ok = true) }
    case DropStmt(kind, name, ifE) =>
      val existed = kind match {
        case "scope" =>
          val e = Catalog.exists(root, name)
          if (e) {
            if (current.exists(_.name == name)) current = None
            Catalog.drop(root, name)
          }
          e
        case "type" => val s = scope
          val e = s.types.remove(name).isDefined; if (e) s.save(); e
        case "edge" => val s = scope
          val e = s.edges.remove(name).isDefined; if (e) s.save(); e
        case "storage" => val s = scope
          val e = s.storages.remove(name).isDefined; if (e) s.save(); e
        case "index" => val s = scope
          val e = s.indexes.remove(name).isDefined; if (e) s.save(); e
        case "procedure" => val s = scope
          // same case-insensitive resolution as EXEC (identifiers are
          // case-preserved in the catalog but matched foldedly)
          val key = s.procs.keys.find(_.equalsIgnoreCase(name))
          val e = key.exists(k => s.procs.remove(k).isDefined)
          if (e) s.save(); e
        case "lock" => val s = scope
          val e = s.locks.remove(name); if (e) s.save(); e
        case "view" => val s = scope
          val key = s.views.keys.find(_.equalsIgnoreCase(name))
          val e = key.exists(k => s.views.remove(k).isDefined)
          if (e) s.save(); e
      }
      if (existed || ifE) Status(ok = true)
      else Status(ok = false, s"no $kind $name")

    // ── metadata queries ────────────────────────────────────────────
    case ShowStmt("scopes") =>
      import spark.implicits._
      val dirs = java.nio.file.Paths.get(root).toFile.listFiles()
      val names = if (dirs == null) Seq.empty[String]
        else dirs.filter(d => Catalog.exists(root, d.getName))
          .map(_.getName).toSeq
      Rows(names.toDF("name"))
    case ShowStmt(what) =>
      val s = scope
      import spark.implicits._
      val df = what match {
        case "types" | "vertices" => s.types.keys.toSeq.toDF("name")
        case "edges" => s.edges.keys.toSeq.toDF("name")
        case "procedures" => s.procs.values
          .map(p => (p.name, p.module, p.lang)).toSeq
          .toDF("name", "module", "language")
        case "stores" | "storages" =>
          s.storages.keys.toSeq.toDF("name")
        case "indexes" | "indices" => s.indexes.values
          .map(ix => (ix.name, ix.on, ix.fields.mkString(","))).toSeq
          .toDF("name", "on", "fields")
        case "locks" => s.locks.toSeq.toDF("name")
        case "views" => s.views.keys.toSeq.toDF("name")
        case other => throw new IllegalArgumentException(s"show $other?")
      }
      Rows(df)
    case DescStmt(name) =>
      val s = scope
      import spark.implicits._
      val props = s.propsOf(name)
      Rows(props.map(p => (p.name, p.typ, p.pk, p.stamp)).toDF(
        "property", "type", "pk", "stamp"))

    // ── session: locks, cursors, procedures ─────────────────────────
    case LockStmt(name, write, timeoutMs) =>
      val s = scope
      if (!s.locks.contains(name)) Status(ok = false, s"no lock $name")
      else {
        val l = Engine.lockRegistry.computeIfAbsent(
          s"${s.name}/$name", _ => new Engine.SessionRWLock())
        val got = timeoutMs match {
          case Some(ms) => l.tryAcquire(write, ms)
          case None => l.acquire(write); true
        }
        if (got) { heldLocks += name -> (l, write); Status(ok = true) }
        else Status(ok = false, s"lock $name: timeout")
      }
    case UnlockStmt(name) =>
      heldLocks.remove(name) match {
        case Some((l, w)) => l.release(w); Status(ok = true)
        case None => Status(ok = false, s"lock $name not held")
      }
    case ExecStmt(name, args) =>
      val vals = args.map {
        case Lit(v, _) => v
        case other => throw new IllegalArgumentException(
          s"EXEC args must be literals, got $other")
      }
      procs.get(name.toLowerCase) match {
        case Some(fn) => fn(this, vals)
        case None =>
          // fall back to the scope catalog: externally-interpreted
          // procedures (CREATE PROCEDURE m.p(...) LANGUAGE python)
          // run out of process and call back into THIS session
          // catalog names are case-preserved; match them the same
          // case-insensitive way the built-in registry is keyed, so
          // `exec QtyStats()` and `exec qtystats()` resolve alike
          current.flatMap(s => s.procs.get(name).orElse(
            s.procs.collectFirst {
              case (k, v) if k.equalsIgnoreCase(name) => v
            })) match {
            case Some(pd) =>
              ProcBridge.exec(this, pd.module, pd.name, pd.lang, vals)
            case None => Status(ok = false, s"no procedure $name")
          }
      }
    case FetchStmt(id) => fetch(id)
    case CloseStmt(id) =>
      closeCursor(id); Status(ok = true)

    // ── DML ─────────────────────────────────────────────────────────
    case ins: InsertStmt if ins.moreRows.nonEmpty =>
      // multi-row VALUES: row-at-a-time with first-failure stop —
      // the same semantics as the reference's script of inserts
      val rows = ins.values +: ins.moreRows
      val it = rows.iterator
      var bad: Option[Result] = None
      while (bad.isEmpty && it.hasNext) {
        insert(ins.copy(values = it.next(), moreRows = Nil)) match {
          case Status(true, _) =>
          case other => bad = Some(other)
        }
      }
      bad.getOrElse(Status(ok = true, s"${rows.length} rows"))
    case ins: InsertStmt => insert(ins)
    case InsertSelect(target, cols, sel) => insertSelect(target, cols, sel)
    case ld: LoadStmt => load(ld)
    case DeleteStmt(target, where) => rewrite(target) { (df, ctx) =>
      // keep rows where the predicate is NOT satisfied (NULL keeps)
      where.fold(df.limit(0))(w =>
        df.filter(!coalesce(ExprBuilder.build(w, ctx), lit(false))))
    }
    case UpdateStmt(target, sets, where) => rewrite(target) { (df, ctx) =>
      val s = scope
      val props = s.propsOf(target)
      val byName = props.map(p => p.name.toLowerCase -> p).toMap
      sets.foreach { case (c, _) =>
        if (!byName.contains(c.toLowerCase))
          throw new IllegalArgumentException(s"unknown column $c")
      }
      val pred = where.map(w =>
        coalesce(ExprBuilder.build(w, ctx), lit(false)))
      val setMap = sets.map { case (c, e) =>
        val p = byName(c.toLowerCase)
        val v = (p.typ, e) match {
          case (("time" | "date"), Ast.Lit(sv: String, "string")) =>
            lit(ExprBuilder.parseTime(sv).getOrElse(
              throw new IllegalArgumentException(s"bad time '$sv'")))
          case _ => ExprBuilder.build(e, ctx)
        }
        p.name.toLowerCase -> v.cast(Catalog.sparkType(p.typ))
      }.toMap
      df.select(props.map { p =>
        setMap.get(p.name.toLowerCase) match {
          case Some(v) =>
            pred.fold(v)(pr => when(pr, v).otherwise(col(p.name)))
              .as(p.name)
          case None => col(p.name)
        }
      }: _*)
    }
    // MERGE = one full-outer join + one projection over the
    // copy-on-write rewrite — the Delta/Iceberg plan shape, scale-safe
    // because both sides shuffle on the join key and nothing collects.
    // Vertex targets get a post-merge duplicate-PK probe (one agg):
    // it rejects ambiguous matches (one target row hit by two source
    // rows under UPDATE) AND inserted rows colliding with survivors —
    // the same uniqueness contract INSERT enforces. Edge targets skip
    // it (edges never dedup, SURVEY §2.1).
    case MergeStmt(target, source, on, sets, del, ins) =>
      rewrite(target, runOnEmpty = ins.isDefined) { (df, ctx) =>
        val s = scope
        val (kind, tname) = s.resolve(target).get
        val props = s.propsOf(tname)
        val byName = props.map(p => p.name.toLowerCase -> p).toMap
        val sdf = tableDf(source)
        val sctx = typeCtx(source)
        val qctx = ctx ++ sctx ++
          ctx.map { case (k, v) => s"${target.toLowerCase}.$k" -> v } ++
          sctx.map { case (k, v) => s"${source.toLowerCase}.$k" -> v }
        val t = df.withColumn("__t_present", lit(true)).alias(target)
        val sv = sdf.withColumn("__s_present", lit(true)).alias(source)
        val joined = t.join(sv, ExprBuilder.build(on, qctx), "full_outer")
        val matched = col("__t_present").isNotNull &&
          col("__s_present").isNotNull
        def castTo(c: String, v: Column): Column = {
          val p = byName.getOrElse(c.toLowerCase,
            throw new IllegalArgumentException(s"unknown column $c"))
          v.cast(Catalog.sparkType(p.typ))
        }
        val setMap = sets.getOrElse(Seq.empty).map { case (c, e) =>
          c.toLowerCase -> castTo(c, ExprBuilder.build(e, qctx))
        }.toMap
        val insMap = ins.map { case (cols, vals) =>
          cols.zip(vals).map { case (c, e) =>
            c.toLowerCase -> castTo(c, ExprBuilder.build(e, qctx))
          }.toMap
        }.getOrElse(Map.empty[String, Column])
        if (kind == "type" && ins.isDefined &&
            !insMap.contains(s.types(tname).pk.name.toLowerCase))
          throw new IllegalArgumentException(
            s"MERGE INSERT missing primary key ${s.types(tname).pk.name}")
        // rows that survive into the new generation: target-side rows
        // (minus matched ones under DELETE) plus, when INSERT is
        // declared, unmatched source rows
        val kept = joined.filter(
          (if (del) col("__s_present").isNull
           else col("__t_present").isNotNull) ||
          (if (ins.isDefined) col("__t_present").isNull else lit(false)))
        val out = kept.select(props.map { p =>
          val tcol = col(s"$target.${p.name}")
          val upd = setMap.get(p.name.toLowerCase) match {
            case Some(v) if !del => when(matched, v).otherwise(tcol)
            case _ => tcol
          }
          val full =
            if (ins.isDefined)
              when(col("__t_present").isNull,
                insMap.getOrElse(p.name.toLowerCase,
                  lit(null).cast(Catalog.sparkType(p.typ))))
                .otherwise(upd)
            else upd
          full.as(p.name)
        }: _*)
        if (kind == "type") {
          val pk = s.types(tname).pk.name
          val dup = out.groupBy(col(pk)).agg(count(lit(1)).as("c"))
            .filter(col("c") > 1L).limit(1).count()
          if (dup > 0)
            throw new IllegalStateException(
              "MERGE violates primary-key uniqueness " +
                "(ambiguous match or colliding insert)")
        }
        out
      }

    // ── DQL ─────────────────────────────────────────────────────────
    case sel: SelectStmt => Rows(buildSelect(sel))
    case w: WithStmt => Rows(buildWith(w))
    case so: SetOpStmt => Rows(buildSetOp(so))
    case ExplainStmt(sel) =>
      import spark.implicits._
      Rows(Seq(buildDql(sel).queryExecution.executedPlan.toString())
        .toDF("plan"))
  }

  // ── cursors (reference FETCH/CLOSE protocol, ifc/nowdb.c) ─────────
  def openCursor(df: DataFrame): Long = {
    import scala.jdk.CollectionConverters._
    val id = cursorSeq.incrementAndGet()
    // Persist for the cursor's lifetime: toLocalIterator launches one
    // job PER PARTITION, and without a cache each job re-runs the
    // whole upstream plan — a shuffle-bearing query would recompute
    // per fetched page (SURVEY §7.3's warning). Unpersisted on CLOSE
    // or exhaustion.
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cursors += id -> (cached.toLocalIterator().asScala, df.schema, cached)
    id
  }

  private def closeCursor(id: Long): Unit =
    cursors.remove(id).foreach(_._3.unpersist(false))

  /** End-of-session cleanup (reference: session teardown releases its
    * cursors and locks, ifc/nowdb.c session loop): drop every open
    * cursor's cache and release held locks. The wire server calls this
    * on disconnect so an abandoned session cannot pin caches or
    * deadlock other sessions. Idempotent. */
  def closeSession(): Unit = {
    cursors.keys.toSeq.foreach(closeCursor)
    heldLocks.keys.toSeq.foreach { n =>
      heldLocks.remove(n).foreach { case (l, w) => l.release(w) }
    }
  }

  private def fetch(id: Long): Result = cursors.get(id) match {
    case None => Status(ok = false, s"no cursor $id")
    case Some((it, schema, _)) =>
      val buf = mutable.ArrayBuffer.empty[Row]
      while (buf.length < cursorPageSize && it.hasNext) buf += it.next()
      val more = it.hasNext
      if (!more) closeCursor(id)
      Batch(buf.toSeq, schema, more)
  }

  // ── table access ──────────────────────────────────────────────────
  /** NoWDB kinds derived from a Spark schema (attached tables and
    * views, which have no catalog props). TimestampType is
    * deliberately untagged: engine "time" means ns-long stamps
    * (declared via timeCols); coercing literals to ns against a real
    * timestamp column would compare across domains. */
  private def kindsFromSchema(
      schema: org.apache.spark.sql.types.StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      val kind = f.dataType match {
        case _: org.apache.spark.sql.types.ByteType |
             _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.LongType => Some("int")
        case _: org.apache.spark.sql.types.FloatType |
             _: org.apache.spark.sql.types.DoubleType => Some("float")
        case _: org.apache.spark.sql.types.StringType => Some("text")
        case _: org.apache.spark.sql.types.BooleanType => Some("bool")
        case _ => None
      }
      kind.map(f.name.toLowerCase -> _)
    }.toMap

  private def typeCtx(table: String): Map[String, String] = {
    cteBindings.get.get(table.toLowerCase) match {
      case Some(df) => return kindsFromSchema(df.schema)
      case None =>
    }
    attached.get(table.toLowerCase) match {
      case Some(df) =>
        // derive NoWDB kinds from the Spark schema so expression
        // typing (e.g. QUOT integer division) works on mounted
        // tables too; declared timeCols override the derived kind
        kindsFromSchema(df.schema) ++
          attachedTimeCols.getOrElse(table.toLowerCase, Set.empty)
            .map(_ -> "time").toMap
      case None =>
        resolveView(table) match {
          case Some((vn, vsql)) => kindsFromSchema(viewDf(vn, vsql).schema)
          case None =>
            scope.propsOf(table).map(p => p.name.toLowerCase -> p.typ).toMap
        }
    }
  }

  private def isStampedEdge(table: String): Boolean =
    current.exists(s => s.resolve(table) match {
      case Some(("edge", n)) => s.edges(n).stamped
      case _ => false
    })

  /** Per-statement CTE bindings (WITH … AS): name → built frame.
    * Thread-local so concurrent sessions on one engine can't see each
    * other's bindings; saved/restored around each WITH statement. */
  private val cteBindings = new ThreadLocal[Map[String, DataFrame]] {
    override def initialValue(): Map[String, DataFrame] = Map.empty
  }

  /** Build a WITH statement: bind each CTE in order (later bindings
    * and the body see earlier ones; bindings shadow same-named
    * tables), build the body, restore the outer binding set. Purely
    * logical — a CTE referenced twice is planned twice, and Catalyst
    * dedups shared scan subtrees via exchange/subquery reuse.
    *
    * WITH RECURSIVE (r14 verdict task 3): a binding referencing its
    * own name evaluates as an iterative fixpoint
    * ([[buildRecursiveCte]]). Without the RECURSIVE keyword a
    * self-name refers to the REAL table of that name, per ANSI (the
    * binding is not in scope inside its own body) — the classic
    * `WITH orders AS (SELECT … FROM orders WHERE …)` shadowing
    * idiom keeps working. Mutual recursion (a binding referencing a
    * LATER binding) is rejected by name. */
  private[engine] def buildWith(w: WithStmt): DataFrame = {
    if (w.recursive) {
      val laterNames = w.bindings.map(_.name.toLowerCase)
      w.bindings.zipWithIndex.foreach { case (b, i) =>
        val after = laterNames.drop(i + 1).toSet
        referencedTables(b.stmt).map(_.toLowerCase).find(after)
          .foreach(n => throw new IllegalArgumentException(
            s"CTE ${b.name} references the later binding $n — " +
              "mutual recursion between CTEs is not supported " +
              "(only linear self-recursion)"))
      }
    }
    val saved = cteBindings.get
    try {
      w.bindings.foreach { b =>
        val nl = b.name.toLowerCase
        val selfRef =
          referencedTables(b.stmt).exists(_.equalsIgnoreCase(b.name))
        val df0 =
          if (w.recursive && selfRef) buildRecursiveCte(b)
          else buildDql(b.stmt)
        val df =
          if (b.cols.isEmpty) df0
          else {
            if (b.cols.length != df0.columns.length)
              throw new IllegalArgumentException(
                s"CTE ${b.name} declares ${b.cols.length} columns " +
                  s"but its body produces ${df0.columns.length}")
            df0.toDF(b.cols: _*)
          }
        cteBindings.set(cteBindings.get + (nl -> df))
      }
      buildDql(w.body)
    } finally cteBindings.set(saved)
  }

  /** Iterative fixpoint for one linear-recursive CTE binding —
    * `base UNION [ALL] step` where `step` references the binding's
    * own name exactly once in its FROM/JOIN list.
    *
    * Semantics follow ANSI/PostgreSQL semi-naive evaluation: the
    * working table starts as the base result; each round re-plans the
    * step with the binding bound to the PREVIOUS round's delta only
    * (never the accumulated set), unions the new rows in, and stops
    * when a round yields nothing. UNION (distinct) additionally
    * drops rows already seen — the fixpoint form that terminates on
    * cyclic data. Scale shape: each round is one distributed plan
    * over the delta (a keyed join when the step joins real tables);
    * every delta is localCheckpoint'ed so lineage never grows with
    * the iteration count (same discipline as operators/Graph.scala),
    * and the accumulated result is a shallow union of checkpointed
    * legs. Driver state is one boolean per round (isEmpty), never
    * row data. Depth-capped at [[Engine.maxRecursionRounds]] with a
    * named error — an unbounded recursive step is a user error, not
    * a hang. */
  private def buildRecursiveCte(b: CteBinding): DataFrame = {
    val nl = b.name.toLowerCase
    // 1) split `base UNION [ALL] step` — flatten the top-level UNION
    //    chain; anything else around the self-reference is rejected
    def flatten(st: Statement): Seq[(Statement, Boolean)] = st match {
      case SetOpStmt("union", all, l, r) =>
        flatten(l) ++ flatten(r).map { case (t, _) => (t, all) }
      case SetOpStmt(op, _, _, _) =>
        throw new IllegalArgumentException(
          s"recursive CTE ${b.name}: only UNION [ALL] may combine " +
            s"the base and recursive terms (found ${op.toUpperCase})")
      case s: SelectStmt => Seq((s, true))
      case _ => throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: expected SELECT terms")
    }
    val terms = flatten(b.stmt)
    val unionAlls = terms.drop(1).map(_._2).distinct
    if (unionAlls.length > 1)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: mixing UNION and UNION ALL " +
          "between terms is not supported")
    val distinctMode = unionAlls.headOption.exists(!_)
    val (recTerms, baseTerms) = terms.map(_._1).partition(t =>
      referencedTables(t).exists(_.equalsIgnoreCase(b.name)))
    if (baseTerms.isEmpty)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name} needs a non-recursive base term")
    if (recTerms.isEmpty)
      throw new IllegalArgumentException(
        s"CTE ${b.name} does not reference itself — drop RECURSIVE " +
          "or add a recursive term")
    val rec = recTerms match {
      case Seq(s: SelectStmt) => s
      case Seq(_) => throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the recursive term must be a " +
          "plain SELECT")
      case _ => throw new IllegalArgumentException(
        s"recursive CTE ${b.name} has ${recTerms.length} recursive " +
          "terms — non-linear recursion is not supported")
    }
    // 2) linearity: the self-reference sits exactly once in the
    //    step's FROM/JOIN list, never buried in a subquery or
    //    derived table, and the step is a plain SELECT shape
    val fromRefs = rec.from.count(_.equalsIgnoreCase(b.name)) +
      rec.ansiJoins.count(_.table.equalsIgnoreCase(b.name))
    if (rec.joins.exists(_.typeName.equalsIgnoreCase(b.name)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the edge-join form may not " +
          "reference the recursive binding")
    val buried =
      rec.derived.flatMap(d => referencedTables(d._2)) ++
        immediateSubSelects(rec).flatMap(referencedTables)
    if (buried.exists(_.equalsIgnoreCase(b.name)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the recursive reference may not " +
          "appear inside a subquery or derived table")
    // hidden recursion through a stored view: the syntactic scans
    // above can't see a view whose BODY reads the recursive name —
    // at build time tableDf would resolve it to the frontier through
    // cteBindings, silently making the recursion non-linear (advice
    // finding). Walk every referenced name through the view catalog
    // transitively and reject if any body reaches the binding.
    if (referencedTables(rec).exists(t =>
        !t.equalsIgnoreCase(b.name) &&
          viewBodyReferences(t, b.name, Set.empty)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: a view referenced by the " +
          s"recursive term reads ${b.name} in its body — hidden " +
          "recursion through views is not supported")
    if (fromRefs != 1)
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: the recursive term must " +
          s"reference ${b.name} exactly once (found $fromRefs) — " +
          "non-linear recursion is not supported")
    if (rec.groupBy.nonEmpty || rec.having.isDefined || rec.distinct ||
        rec.orderBy.nonEmpty || rec.limit.isDefined ||
        rec.offset.isDefined ||
        rec.items.exists(it => containsAgg(it.expr)))
      throw new IllegalArgumentException(
        s"recursive CTE ${b.name}: GROUP BY/HAVING/DISTINCT/" +
          "ORDER BY/LIMIT and aggregates are not allowed in the " +
          "recursive term")
    // 3) base: union the non-recursive terms positionally
    val base0 = baseTerms.map(buildDql)
      .reduce((a, c) => a.unionAll(c.toDF(a.columns: _*)))
    val base1 =
      if (b.cols.isEmpty) base0
      else {
        if (b.cols.length != base0.columns.length)
          throw new IllegalArgumentException(
            s"CTE ${b.name} declares ${b.cols.length} columns but " +
              s"its base term produces ${base0.columns.length}")
        base0.toDF(b.cols: _*)
      }
    val cols = base1.columns.toSeq
    // 4) iterate
    val maxRounds = spark.conf
      .get("graft.recursion.maxRounds", Engine.maxRecursionRounds.toString)
      .toInt
    val saved = cteBindings.get
    // the one-job-per-round scheme below marks the round delta for
    // RDD localCheckpoint and lets the seen-union's count job force
    // it; by default Spark only truncates the job's FINAL marked RDD
    // (doCheckpoint does not descend once it finds checkpoint data),
    // so the delta's lineage would never cut and round R's task
    // closures would serialize R nested plans — stack overflow at
    // three-digit depths (ring probe). This thread-local property
    // makes every job checkpoint ALL marked ancestors.
    val sc = spark.sparkContext
    val ancestorsKey = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prevAncestors = sc.getLocalProperty(ancestorsKey)
    sc.setLocalProperty(ancestorsKey, "true")
    val bindingRdds = mutable.ArrayBuffer[org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow]]()
    try {
      // Materialize a round frame with a TRUNCATED identity, in ONE
      // job: persist the plan's InternalRow RDD and count it (the
      // count doubles as the emptiness probe, folding what used to
      // be a separate isEmpty job into the materialization), then
      // re-wrap the bytes through the GraftSparkInternals bridge.
      // The bridge matters: localCheckpoint preserves the origin
      // plan's attribute ids AND constraints in its LogicalRDD, so a
      // step that projects a scanned column verbatim (`select r2.v
      // from reach join ring r2 …`) emits the SAME attribute id
      // every round and carries constraints referencing attributes
      // outside its own output — Catalyst's Union.rewriteConstraints
      // faults on exactly that (key-not-found, reproduced by
      // DeepRecursionSpec's 999-round ring). The row .copy() is
      // required: toRdd serves reused UnsafeRow buffers.
      // Materialize a round frame in ONE job, with truncated
      // identity AND truncated lineage: RDD-level localCheckpoint
      // persists the InternalRow bytes and cuts the parent chain at
      // the first job (the count — which doubles as the emptiness
      // probe, folding what used to be a separate isEmpty job into
      // the materialization). Then re-wrap through the
      // GraftSparkInternals bridge: Dataset.localCheckpoint would
      // preserve the origin plan's attribute ids and constraints in
      // its LogicalRDD, and a step that projects a scanned column
      // verbatim (`select r2.v from reach join ring r2 …`) then
      // emits the SAME attribute id every round with constraints
      // referencing attributes outside its own output — Catalyst's
      // Union.rewriteConstraints faults on exactly that
      // (key-not-found, reproduced by DeepRecursionSpec's ring).
      // The row .copy() is required: toRdd serves reused UnsafeRow
      // buffers. A bare persist() instead of localCheckpoint keeps
      // the whole parent chain alive — at three-digit round counts
      // the nested task closures overflow the stack (ring probe).
      def wrap(rdd: org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow],
          schema: StructType): DataFrame =
        org.apache.spark.sql.GraftSparkInternals.wrapInternal(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          rdd, schema)
      def materialize(df: DataFrame)
          : (DataFrame, Long, org.apache.spark.rdd.RDD[
              org.apache.spark.sql.catalyst.InternalRow]) = {
        val rdd = df.queryExecution.toRdd.map(_.copy())
          .localCheckpoint()
        val cnt = rdd.count()
        (wrap(rdd, df.schema), cnt, rdd)
      }
      // Non-recursive CTE bindings the recursive term references are
      // LAZY plans — left alone, every round's step re-executes them
      // in full (q418's ring re-scanned + re-deduplicated its edge
      // CTE's source table 60 times; q409 re-built a 2-scan UNION ALL
      // each round). Materialize each once as checkpointed
      // InternalRows and rebind for the loop: rounds then join
      // against cached bytes, and per-round cost no longer carries
      // the CTE's build. The materialized binding RDDs are unpersisted
      // once the fixpoint exits (the returned frame is backed by the
      // packed legs / local rows, never by the bindings) — without
      // that a long-lived driver accumulates dead persisted blocks
      // until the ContextCleaner happens to GC them (advice finding).
      val loopRefs = referencedTables(rec).map(_.toLowerCase).distinct
      val loopBindings: Map[String, DataFrame] = saved ++
        loopRefs
          .filter(n => n != nl && saved.contains(n))
          .map { n =>
            val (df, _, r) = materialize(saved(n))
            bindingRdds += r
            n -> df
          } ++
        // Plain ATTACHED tables the step joins are re-read from
        // storage every round too (q410 re-decoded its parquet fact
        // table once per walk level — the dominant per-round cost).
        // Snapshot small ones once behind a byte gate read from the
        // optimizer's own size estimate (parquet file bytes), so a
        // 100 TB edge table keeps streaming while a bounded dimension
        // iterates against cached bytes. Only attached tables WITHOUT
        // declared time columns are eligible: typeCtx derives their
        // kinds from the frame schema exactly as it does for CTE
        // bindings, so shadowing cannot change expression typing
        // (scope tables type from catalog props and stay unshadowed).
        loopRefs
          .filter(n => n != nl && !saved.contains(n) &&
            attached.contains(n) &&
            attachedTimeCols.getOrElse(n, Set.empty).isEmpty)
          .flatMap { n =>
            val df = attached(n)
            val cacheTableBytes = spark.conf
              .get("graft.recursion.cacheTableBytes", "67108864").toLong
            val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
            if (est <= cacheTableBytes) {
              val (m, _, r) = materialize(df)
              bindingRdds += r
              Some(n -> m)
            } else None
          }
      val (f0, f0n, f0r) = materialize(
        if (distinctMode) base1.distinct() else base1)
      var frontier = f0
      // UNION ALL mode: the result is the union of every round's leg,
      // so all legs stay persisted until the consumer is done.
      // Distinct mode never reads the legs (the result IS the seen
      // frame), so it skips the buffer and instead RETIRES superseded
      // blocks each round — without that, D rounds leave D persisted
      // seen-snapshots behind and per-round wall creeps up with
      // depth (measured: 326→404 ms/round from ring-120 to ring-240
      // before the unpersists).
      val legs = mutable.ArrayBuffer[DataFrame]()
      if (!distinctMode) legs += frontier
      // Distinct mode keeps the cumulative seen-set as a FLAT RDD
      // union of checkpointed per-round delta legs — sc.union is
      // O(1) driver work and, unlike re-materializing `seen ∪ delta`
      // every round (the r15-mid-build scheme), the per-round count
      // job scans only the DELTA, so a D-round fixpoint does O(|D|)
      // total count work instead of O(D·|total|) re-scans. The legs
      // buffer is compacted into one checkpointed frame every
      // `compactEvery` rounds, so task-closure size (one RDD ref per
      // leg) and partition count stay bounded at any depth
      // (DeepRecursionSpec holds a 999-round ring flat). Plan width
      // is still CONSTANT: the union happens at the RDD layer, one
      // LogicalRDD leaf regardless of leg count.
      // seen is wrapped SEPARATELY from frontier (fresh attribute
      // ids): the anti-join below references both sides, and sharing
      // ids with the step's projection would make the join condition
      // self-referential (trivially true) on the first round.
      var seen: DataFrame =
        if (distinctMode) wrap(f0r, base1.schema) else null
      var seenN: Long = f0n
      val seenLegs = mutable.ArrayBuffer[org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow]]()
      if (distinctMode) seenLegs += f0r
      val compactEvery = spark.conf
        .get("graft.recursion.compactLegs", "32").toInt
      // The broadcast gate: the optimizer sees only stats-less
      // LogicalRDDs (default size = huge) so left alone every round
      // pays a two-sided shuffle SortMergeJoin; WE know the seen
      // set's exact cardinality from the counts the loop already
      // takes. Below the byte bound the anti-join build side is
      // broadcast (one shuffle per round instead of three); above
      // it the planner's shuffle join is kept — the gate is data-
      // driven, not a local-mode constant.
      val bcSeenBytes = spark.conf
        .get("graft.recursion.broadcastSeenBytes", "33554432").toLong
      // Gate on MEASURED bytes, not schema.defaultSize (advice
      // finding): defaultSize prices strings/binary/arrays at ~20
      // bytes, so a wide-string seen set could pass the 32 MB gate
      // while actually being GBs — sample the materialized base leg's
      // UnsafeRow sizes and take the max of both estimates.
      val rowEstBytes: Long = {
        val sample = f0r.take(64)
        val measured =
          if (sample.isEmpty) 0L
          else sample.map {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
              u.getSizeInBytes.toLong
            case _ => base1.schema.defaultSize.toLong
          }.sum / sample.length
        math.max(1L, math.max(base1.schema.defaultSize.toLong, measured))
      }
      var deferRetire: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow] = null
      // fold leg RDDs into ONE checkpointed, narrowly-coalesced RDD
      def packLegs(ls: Seq[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]])
          : org.apache.spark.rdd.RDD[
            org.apache.spark.sql.catalyst.InternalRow] = {
        val packed = sc.union(ls)
          .coalesce(math.max(1, math.min(
            ls.map(_.getNumPartitions).max, sc.defaultParallelism)))
          .localCheckpoint()
        packed.count()
        packed
      }
      var rounds = 0
      var done = f0n == 0
      val dbgRounds = spark.conf
        .get("graft.recursion.debugRounds", "false") == "true"

      // ── Driver-resident fast path (r16, guide §3.1/§5) ───────────
      // Below the SAME byte gate that already shipped the seen set to
      // the driver for a broadcast build EVERY round, keep the
      // accumulated rows at the driver ONCE and make each round a
      // single job: the frontier binds as a broadcast-hinted
      // LocalRelation (its broadcast builds driver-side, zero tasks),
      // the step's rows are collected (bounded by the gate), and the
      // dedup-against-seen runs on a driver hash set. The r15 scheme
      // ran ~6 jobs/round on q418's 60-round ring (357 stages: a
      // BroadcastExchange collect job that re-scanned ALL seen legs,
      // AQE shuffle-stage jobs for the distinct, the delta count) —
      // this path runs exactly one. Over the gate — or the moment a
      // round's output or the accumulated set overflows it — the
      // distributed anti-join path below takes over, so the choice is
      // data-driven bytes, never a local-mode constant.
      def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean =
        dt match {
          case _: org.apache.spark.sql.types.MapType => true
          case s: StructType => s.fields.exists(f => hasMapType(f.dataType))
          case a: org.apache.spark.sql.types.ArrayType =>
            hasMapType(a.elementType)
          case _ => false
        }
      // Spark's set semantics normalize -0.0 to 0.0 and treat
      // NaN = NaN (NormalizeFloatingNumbers on join/grouping keys);
      // driver-side rows must reproduce both: stored values get -0.0
      // flipped to 0.0 (what a normalized shuffle would have written),
      // set keys additionally collapse NaN (Scala == on boxed doubles
      // is primitive ==, where NaN != NaN) and wrap byte arrays
      // (reference equality otherwise).
      def normVal(v: Any): Any = v match {
        case d: java.lang.Double =>
          if (d.doubleValue() == 0.0d) java.lang.Double.valueOf(0.0d) else d
        case f: java.lang.Float =>
          if (f.floatValue() == 0.0f) java.lang.Float.valueOf(0.0f) else f
        case r: Row => Row.fromSeq(r.toSeq.map(normVal))
        case s: Seq[_] => s.map(normVal)
        case other => other
      }
      def keyVal(v: Any): Any = v match {
        case d: java.lang.Double if d.isNaN => "\u0000NaN:d"
        case f: java.lang.Float if f.isNaN => "\u0000NaN:f"
        case b: Array[Byte] => b.toSeq
        case r: Row => r.toSeq.map(keyVal).toList
        case s: Seq[_] => s.map(keyVal).toList
        case other => other
      }
      def keyOf(r: Row): Seq[Any] = r.toSeq.map(keyVal)
      // conservative external-row byte estimate for the driver gate
      def extBytes(v: Any): Long = v match {
        case null => 8L
        case s: String => 24L + 2L * s.length
        case b: Array[Byte] => 24L + b.length
        case sq: Seq[_] => 24L + sq.map(extBytes).sum
        case r: Row => 16L + r.toSeq.map(extBytes).sum
        case _ => 8L
      }
      def extRowBytes(r: Row): Long = 16L + r.toSeq.map(extBytes).sum
      import scala.jdk.CollectionConverters._
      val maxDriverRows: Long =
        math.min(4000000L, math.max(1024L, bcSeenBytes / rowEstBytes))
      val resultRows = mutable.ArrayBuffer[Row]()
      val seenKeys = mutable.HashSet[Seq[Any]]()
      var frontRows: Seq[Row] = Nil
      var driverBytes = 0L
      var driverMode =
        !base1.schema.fields.exists(f => hasMapType(f.dataType)) &&
          f0n > 0 && f0n <= maxDriverRows
      if (driverMode) {
        wrap(f0r, base1.schema).collect().foreach { r0 =>
          val r = normVal(r0).asInstanceOf[Row]
          if (distinctMode) {
            val k = keyOf(r)
            if (!seenKeys.contains(k)) { seenKeys += k; resultRows += r }
          } else resultRows += r
        }
        frontRows = resultRows.toSeq
        driverBytes = resultRows.iterator.map(extRowBytes).sum
        if (driverBytes > bcSeenBytes) {
          resultRows.clear(); seenKeys.clear(); frontRows = Nil
          driverMode = false
        }
      }
      // fold the driver-resident state back into the distributed
      // loop's invariants (called when the gate overflows mid-loop)
      def switchToDistributed(): Unit = {
        val (allF, allN, allR) = materialize(
          spark.createDataFrame(resultRows.asJava, base1.schema))
        val (fF, _, _) = materialize(
          spark.createDataFrame(frontRows.asJava, base1.schema))
        if (distinctMode) {
          seenLegs.foreach(_.unpersist(false))
          seenLegs.clear()
          seenLegs += allR
          seen = wrap(allR, base1.schema)
          seenN = allN
        } else {
          f0r.unpersist(false)
          legs.clear()
          legs += allF
        }
        frontier = fF
        resultRows.clear(); seenKeys.clear(); frontRows = Nil
        driverMode = false
      }

      def distributedRound(): Unit = {
        cteBindings.set(loopBindings + (nl -> frontier))
        val stepRaw = buildSelect(rec)
        if (stepRaw.columns.length != cols.length)
          throw new IllegalArgumentException(
            s"recursive CTE ${b.name}: the recursive term produces " +
              s"${stepRaw.columns.length} columns, expected " +
              s"${cols.length}")
        val step = stepRaw.toDF(cols: _*)
        // distinct mode: drop rows already seen — ONE anti-join of
        // the round's step against the cumulative seen frame,
        // deduplicated after (LeftAnti + Distinct is exactly what
        // Catalyst rewrites EXCEPT to, with the same null-safe `<=>`
        // keys — spelling it out lets us pick the build side).
        if (!distinctMode) {
          val (delta, deltaN, _) = materialize(step)
          if (deltaN == 0) done = true
          else { frontier = delta; legs += delta }
        } else {
          val planT0 = System.nanoTime()
          // both sides renamed POSITIONALLY to fresh unique names
          // (advice finding: name-based `col("__rec_s.`c`")` faults
          // on duplicate or backticked output columns); the rename
          // projections also give each side fresh attribute ids, so
          // resolution survives Catalyst's relation deduplication
          // even when step projects a frontier column verbatim
          val sNames = cols.indices.map(i => s"__rec_s$i")
          val vNames = cols.indices.map(i => s"__rec_v$i")
          val sAl = step.toDF(sNames: _*)
          val vAl = seen.toDF(vNames: _*)
          val antiCond = cols.indices.map(i =>
            col(sNames(i)) <=> col(vNames(i))).reduce(_ && _)
          val pruned =
            (if (seenN * rowEstBytes <= bcSeenBytes)
              sAl.join(broadcast(vAl), antiCond, "left_anti")
            else sAl.join(vAl, antiCond, "left_anti")).toDF(cols: _*)
          val buildT = System.nanoTime()
          // ONE counted job per round, and it scans ONLY the delta:
          // the checkpoint is forced by the delta count itself.
          val qe = pruned.distinct().queryExecution
          val optT0 = System.nanoTime()
          qe.optimizedPlan // force analysis+optimization separately
          val optT1 = System.nanoTime()
          val deltaRdd = qe.toRdd
            .map(_.copy()).localCheckpoint()
          if (dbgRounds && rounds % 30 == 0)
            System.err.println(f"[graft-rec]   plan: " +
              f"${(System.nanoTime() - planT0) / 1e6}%.0f ms " +
              f"(build ${(buildT - planT0) / 1e6}%.0f, " +
              f"analyze+opt ${(optT1 - optT0) / 1e6}%.0f, " +
              f"phys ${(System.nanoTime() - optT1) / 1e6}%.0f)")
          val deltaN = deltaRdd.count()
          // a frontier deferred at the last compaction was consumed
          // by the count job above — safe to retire its blocks now
          if (deferRetire != null) {
            deferRetire.unpersist(false); deferRetire = null
          }
          if (deltaN == 0) { deltaRdd.unpersist(false); done = true }
          else {
            seenLegs += deltaRdd
            seenN += deltaN
            frontier = wrap(deltaRdd, frontier.schema)
            if (seenLegs.length >= compactEvery) {
              // compact: fold the legs into one checkpointed frame
              // (narrow coalesce bounds partition growth), retire
              // the superseded blocks. The newest leg doubles as the
              // live frontier — its retirement is DEFERRED until the
              // next round's count has consumed it.
              val packed = packLegs(seenLegs.toSeq)
              seenLegs.foreach(l =>
                if (l ne deltaRdd) l.unpersist(false))
              deferRetire = deltaRdd
              seenLegs.clear()
              seenLegs += packed
            }
            seen =
              if (seenLegs.length == 1) wrap(seenLegs.head, seen.schema)
              else wrap(sc.union(seenLegs.toSeq), seen.schema)
          }
        }
      }

      while (!done) {
        val roundT0 = System.nanoTime()
        rounds += 1
        if (rounds > maxRounds)
          throw new IllegalStateException(
            s"recursive CTE ${b.name} exceeded $maxRounds rounds — " +
              "add a depth bound to the recursive term (or raise " +
              "graft.recursion.maxRounds)")
        if (driverMode) {
          val localFrontier = broadcast(spark.createDataFrame(
            frontRows.asJava, base1.schema))
          cteBindings.set(loopBindings + (nl -> localFrontier))
          val stepRaw = buildSelect(rec)
          if (stepRaw.columns.length != cols.length)
            throw new IllegalArgumentException(
              s"recursive CTE ${b.name}: the recursive term produces " +
                s"${stepRaw.columns.length} columns, expected " +
                s"${cols.length}")
          val step = stepRaw.toDF(cols: _*)
          // ONE job: collect the step, capped one past the gate so an
          // overflowing round is detected (its truncated result is
          // discarded and the round re-runs distributed)
          val taken = step.limit(maxDriverRows.toInt + 1).collect()
          if (taken.length > maxDriverRows) {
            switchToDistributed()
            distributedRound()
          } else {
            val fresh = mutable.ArrayBuffer[Row]()
            taken.foreach { r0 =>
              val r = normVal(r0).asInstanceOf[Row]
              if (distinctMode) {
                val k = keyOf(r)
                if (!seenKeys.contains(k)) { seenKeys += k; fresh += r }
              } else fresh += r
            }
            if (fresh.isEmpty) done = true
            else {
              resultRows ++= fresh
              frontRows = fresh.toSeq
              driverBytes += fresh.iterator.map(extRowBytes).sum
              if (driverBytes > bcSeenBytes) switchToDistributed()
            }
          }
        } else distributedRound()
        if (dbgRounds && rounds % 30 == 0)
          System.err.println(f"[graft-rec] round $rounds: " +
            f"${(System.nanoTime() - roundT0) / 1e6}%.0f ms")
      }
      if (driverMode) {
        // pure driver-resident run: every accumulated row is already
        // local — return a LocalRelation-backed frame (values are
        // identical to the distributed path's; consumers aggregate or
        // re-distribute). The base leg's persisted blocks are dead.
        f0r.unpersist(false)
        seenLegs.clear(); legs.clear()
        spark.createDataFrame(resultRows.asJava, base1.schema)
      } else if (distinctMode) {
        // one final compaction folds the in-flight legs into a single
        // checkpointed frame — the persisted-block census leaves the
        // loop constant (≤1 seen frame, DeepRecursionSpec) and the
        // consumer re-scans one coalesced RDD instead of a
        // many-legged union
        if (seenLegs.length > 1) {
          val packed = packLegs(seenLegs.toSeq)
          seenLegs.foreach(_.unpersist(false))
          seenLegs.clear()
          seenLegs += packed
        }
        wrap(seenLegs.head, base1.schema)
      } else legs.reduce(_ unionAll _)
    } finally {
      cteBindings.set(saved)
      sc.setLocalProperty(ancestorsKey, prevAncestors)
      // retire the loop-binding materializations (advice finding):
      // the returned frame never reads them — packed legs or local
      // rows only — so their persisted blocks are dead the moment
      // the fixpoint exits
      bindingRdds.foreach(_.unpersist(false))
    }
  }

  /** SQL set operations: positional alignment (left side's names win,
    * like ANSI), UNION dedups unless ALL — all four plan to Spark's
    * native union/intersect/except operators, so dedup is a hash agg
    * on the shuffled key, never a sort. */
  private[engine] def buildSetOp(so: SetOpStmt): DataFrame = {
    val l = buildDql(so.left)
    val r = buildDql(so.right)
    if (l.columns.length != r.columns.length)
      throw new IllegalArgumentException(
        s"set operands have ${l.columns.length} vs ${r.columns.length} columns")
    val r2 = r.toDF(l.columns: _*)
    so.op match {
      case "union" =>
        if (so.all) l.unionAll(r2) else l.unionAll(r2).distinct()
      case "intersect" =>
        if (so.all) l.intersectAll(r2) else l.intersect(r2)
      case "except" =>
        if (so.all) l.exceptAll(r2) else l.except(r2)
    }
  }

  /** Any DQL form → frame (SELECT, WITH, set-op chain). */
  private def buildDql(st: Statement): DataFrame = st match {
    case s: SelectStmt => buildSelect(s)
    case w: WithStmt => buildWith(w)
    case so: SetOpStmt => buildSetOp(so)
    case _ =>
      throw new IllegalStateException("expected a SELECT/WITH/set-op")
  }

  /** Views mid-expansion on this thread — guards against view cycles
    * (v1 over v2 over v1), which would otherwise recurse forever. */
  private val viewExpansion = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]
  }

  /** Expand a stored view: re-parse its SELECT text and build it
    * against the live catalog — a logical view, so filters/pruning
    * push straight through into the underlying scans. */
  private def viewDf(name: String, viewSql: String): DataFrame = {
    val seen = viewExpansion.get
    val key = name.toLowerCase
    if (!seen.add(key))
      throw new IllegalStateException(s"circular view reference: $name")
    try Parser.parse(viewSql) match {
      case st @ (_: SelectStmt | _: WithStmt | _: SetOpStmt) =>
        buildDql(st)
      case _ =>
        throw new IllegalStateException(s"view $name: body is not SELECT")
    } finally seen.remove(key)
  }

  private def resolveView(table: String): Option[(String, String)] =
    current.flatMap(_.views.find(_._1.equalsIgnoreCase(table)))

  /** Does `table`, if it is a stored view, reference `target`
    * (transitively through further views) in its body? Used by the
    * recursive-CTE linearity check; `expanding` breaks view cycles
    * (viewDf would reject those at build time anyway). A view body
    * that fails to parse returns false — the build will surface the
    * real error. */
  private def viewBodyReferences(table: String, target: String,
      expanding: Set[String]): Boolean = {
    val tl = table.toLowerCase
    !expanding(tl) && resolveView(table).exists { case (_, vsql) =>
      val body = try Some(Parser.parse(vsql))
        catch { case scala.util.control.NonFatal(_) => None }
      body.exists { st =>
        val refs = referencedTables(st)
        refs.exists(_.equalsIgnoreCase(target)) ||
          refs.exists(viewBodyReferences(_, target, expanding + tl))
      }
    }
  }

  /** A CTE binding, attached table or stored view of that name — the
    * names that shadow scope tables, in shadowing order. */
  private def boundDf(table: String): Option[DataFrame] =
    cteBindings.get.get(table.toLowerCase)
      .orElse(attached.get(table.toLowerCase))
      .orElse(resolveView(table).map { case (vn, vsql) => viewDf(vn, vsql) })

  /** A scope table's canonical name and stored schema: the catalog
    * model plus, on stamped edges, the `stamp_date` day partition. */
  private def scopeSchema(table: String): (String, StructType) = {
    val s = scope
    val (_, name) = s.resolve(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table $table"))
    val model = Catalog.schemaOf(s.propsOf(name))
    (name, if (isStampedEdge(name)) model.add("stamp_date", DateType)
           else model)
  }

  /** A table's frame. Scope tables read with their declared schema:
    * no footer-reading inference job, and a stamped edge emptied by
    * DELETE (a snapshot dir without partition dirs) reads as zero rows.
    * Each call lists the table's files; name probes use `columnsOf`. */
  def tableDf(table: String): DataFrame = boundDf(table).getOrElse {
    val (name, schema) = scopeSchema(table)
    val dir = scope.tableDir(name)
    if (Files.exists(dir)) spark.read.schema(schema).parquet(dir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** A table's column names, read from the catalog for scope tables
    * instead of building (and so listing) their frame. */
  private def columnsOf(table: String): Seq[String] =
    boundDf(table).fold(scopeSchema(table)._2.fieldNames.toSeq)(
      _.columns.toSeq)

  /** Serialize all writers of one table across sessions — the same
    * registry lock the PK-checked vertex insert takes. Appends must
    * not interleave with rewrite()'s delete+swap, or a concurrently
    * appended file is silently deleted with the old directory. */
  private def withTableWriteLock[A](scopeName: String, table: String)(
      body: => A): A = {
    val l = Engine.lockRegistry.computeIfAbsent(
      s"$scopeName/__table_$table", _ => new Engine.SessionRWLock())
    l.acquire(write = true)
    try body finally l.release(write = true)
  }

  /** Central table writer: stamped edges are stored hive-partitioned
    * by UTC day of their stamp — the lakehouse analog of the
    * reference's per-file time periods (store.h:172). Building a read
    * frame still lists every day directory (InMemoryFileIndex); a
    * stamp-range query then skips the other days' files at scan
    * planning. */
  private def writeTable(name: String, df: DataFrame, dir: String,
                         mode: String): Unit =
    if (isStampedEdge(name))
      // NOTE (r16, measured and left alone): a REBALANCE on stamp_date
      // before this partitionBy write (guide §6's small-files cure —
      // a W-task insert over D days lands W×D fragments) was tried and
      // LOST on the same box: q186_proc_exec 2.88 s plain vs 3.23 s
      // rebalanced (reps=3 medians, 24 GB heap) — at this load size
      // the extra AQE exchange costs more than the fragment files save
      // the downstream stamp-pruned scans. At warehouse scale the
      // rebalance belongs in a compaction pass, not on the ingest hot
      // path.
      df.withColumn("stamp_date",
          to_date(NowFunctions.stampToTs(col("stamp"))))
        .write.partitionBy("stamp_date").mode(mode).parquet(dir)
    else df.write.mode(mode).parquet(dir)

  // ── INSERT (reference query/stmt.c:2371-2448, scope/dml.c) ────────
  private def insert(ins: InsertStmt): Result = {
    val s = scope
    // legacy context-insert: INSERT INTO store (edge, origin, …) —
    // re-route to the edge named by the `edge` column value
    val (target, cols, vals) =
      if (ins.cols.exists(_.equalsIgnoreCase("edge"))) {
        val i = ins.cols.indexWhere(_.equalsIgnoreCase("edge"))
        val en = ins.values(i) match {
          case Lit(s0: String, _) => s0
          case _ => return Status(ok = false, "edge name must be a string")
        }
        val keep = ins.cols.zip(ins.values).patch(i, Nil, 1).map {
          case (c, v) if c.equalsIgnoreCase("timestamp") => ("stamp", v)
          case cv => cv
        }
        (en, keep.map(_._1), keep.map(_._2))
      } else (ins.target, ins.cols, ins.values)

    val (kind, name) = s.resolve(target).getOrElse(
      return Status(ok = false, s"unknown table $target"))
    val props = s.propsOf(name)
    // field-list-less `INSERT INTO t VALUES (…)` (reference
    // nowdbsql.y:312): values map positionally onto the full model
    val colsEff = if (cols.isEmpty) props.map(_.name) else cols
    val byName = props.map(p => p.name.toLowerCase -> p).toMap
    val colProps = colsEff.map(c => byName.getOrElse(c.toLowerCase,
      return Status(ok = false, s"unknown column $c in $name")))
    if (colsEff.size != vals.size)
      return Status(ok = false, "column/value count mismatch")

    // evaluate value expressions (constants) with time coercion
    val valueByCol: Map[String, Column] =
      colProps.zip(vals).map { case (p, v) =>
        val c = (p.typ, v) match {
          case (("time" | "date"), Lit(sv: String, "string")) =>
            lit(ExprBuilder.parseTime(sv).getOrElse(
              return Status(ok = false, s"bad time literal '$sv'")))
          case _ => ExprBuilder.build(v)
        }
        p.name.toLowerCase -> c.cast(Catalog.sparkType(p.typ))
      }.toMap
    val rowCols = props.map(p =>
      valueByCol.getOrElse(p.name.toLowerCase,
        lit(null).cast(Catalog.sparkType(p.typ))).as(p.name))
    // ONE slice: spark.range(1) defaults to defaultParallelism empty
    // partitions, so every single-row INSERT ran a 32-task job (and a
    // 32-task write) for one row — measured as the dominant fixed cost
    // of the DML-heavy engine queries at 32 cores (guide §2: task
    // width must follow data size, and this frame is one row)
    val row = spark.range(0, 1, 1, 1).select(rowCols: _*)

    if (kind == "type") { // vertex PK uniqueness (dml.c:116-168)
      val pk = s.types(name).pk.name
      if (!valueByCol.contains(pk.toLowerCase))
        return Status(ok = false, s"missing primary key $pk")
      // serialize check+append across sessions — the reference guards
      // vertex inserts with scope locks too (SURVEY §7.3)
      withTableWriteLock(s.name, name) {
        val dir = s.tableDir(name)
        if (Files.exists(dir)) {
          val pkVal = row.select(col(pk)).collect()(0).get(0)
          val clash = tableDf(name).filter(col(pk) === lit(pkVal))
            .limit(1).count()
          if (clash > 0)
            return Status(ok = false, s"duplicate key $pkVal in $name")
        }
        row.write.mode("append").parquet(s.tableDir(name).toString)
      }
    } else {
      withTableWriteLock(s.name, name) {
        writeTable(name, row, s.tableDir(name).toString, "append")
      }
    }
    Status(ok = true)
  }

  /** INSERT … SELECT (reference: documented "not yet",
    * sql.tex:1934-1950): run the select, align its columns to the
    * target positionally, cast to declared types, enforce vertex PK
    * uniqueness set-wise (dedupe within + anti-join existing). */
  private def insertSelect(target: String, cols: Seq[String],
                           sel: SelectStmt): Result = {
    val s = scope
    val (kind, name) = s.resolve(target).getOrElse(
      return Status(ok = false, s"unknown table $target"))
    val props = s.propsOf(name)
    val byName = props.map(p => p.name.toLowerCase -> p).toMap
    val colProps = cols.map(c => byName.getOrElse(c.toLowerCase,
      return Status(ok = false, s"unknown column $c in $name")))
    val src = buildSelect(sel)
    if (src.columns.length != cols.length)
      return Status(ok = false,
        s"select yields ${src.columns.length} columns for ${cols.length}")
    val aligned = src.select(src.columns.zip(colProps).map {
      case (c, p) => col(c).cast(Catalog.sparkType(p.typ)).as(p.name)
    }: _*)
    val provided = colProps.map(_.name.toLowerCase).toSet
    val full = aligned.select(props.map(p =>
      if (provided(p.name.toLowerCase)) col(p.name)
      else lit(null).cast(Catalog.sparkType(p.typ)).as(p.name)): _*)
    if (kind == "type" && !provided(s.types(name).pk.name.toLowerCase))
      return Status(ok = false, s"missing primary key ${s.types(name).pk.name}")
    // the PK anti-join frame must be BUILT inside the lock: the scan
    // snapshots its file listing at DataFrame creation, so planning it
    // earlier would dedup against pre-lock state and let two
    // concurrent INSERT..SELECTs both pass the check (and a concurrent
    // rewrite could GC the version dir the stale plan points at)
    withTableWriteLock(s.name, name) {
      val out = if (kind == "type") {
        val pk = s.types(name).pk.name
        val deduped = full.dropDuplicates(pk)
        if (Files.exists(s.tableDir(name)))
          deduped.join(tableDf(name).select(col(pk)), Seq(pk), "left_anti")
        else deduped
      } else full
      writeTable(name, out, s.tableDir(name).toString, "append")
    }
    Status(ok = true)
  }

  /** Rewrite a table in place (DELETE/UPDATE): materialize the
    * transformed frame to a sibling dir, then swap — the parquet
    * analog of the reference's documented tombstoning intent
    * (sql.tex:2017-2034). At lakehouse scale this is Delta/Iceberg
    * MERGE territory; plain parquet gets copy-on-write. */
  private def rewrite(target: String, runOnEmpty: Boolean = false)(
      f: (DataFrame, ExprBuilder.Ctx) => DataFrame): Result = {
    val s = scope
    val (_, name) = s.resolve(target).getOrElse(
      return Status(ok = false, s"unknown table $target"))
    // The whole read→transform→flip must hold the table write lock:
    // a concurrent PK-checked INSERT appending between the snapshot
    // and the version flip would be silently lost otherwise. Readers
    // need no lock: they resolved their snapshot dir already, and that
    // generation survives until the NEXT rewrite GCs it.
    withTableWriteLock(s.name, name) {
      val cur = s.tableDir(name)
      // DELETE/UPDATE on a never-written table are no-ops; MERGE must
      // still run (its NOT MATCHED arm inserts into the empty frame)
      if (!Files.exists(cur) && !runOnEmpty)
        return Status(ok = true, "empty table")
      val props = s.propsOf(name)
      val base = tableDf(name).select(props.map(p => col(p.name)): _*)
      val out = f(base, typeCtx(name))
      val root = s.tableRoot(name)
      val curV = s.currentVersion(name).getOrElse(0L)
      val nextV = curV + 1
      writeTable(name, out, root.resolve(s"v$nextV").toString, "overwrite")
      // atomic pointer flip
      val tmpMark = root.resolve("_version.tmp")
      Files.writeString(tmpMark, nextV.toString)
      Files.move(tmpMark, root.resolve("_version"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // GC generations older than the one just replaced (keep curV for
      // in-flight readers): versioned dirs v<k> with k < curV, and —
      // once v2 exists — any legacy v0 loose files in the root
      def rmTree(p: java.nio.file.Path): Unit =
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.delete(q))
      val children = Files.list(root)
      try children.forEach { child =>
        val n = child.getFileName.toString
        val isVersionDir = n.matches("v\\d+")
        if (isVersionDir && n.drop(1).toLong < curV) rmTree(child)
        else if (!isVersionDir && n != "_version" && nextV >= 2) rmTree(child)
      } finally children.close()
      Status(ok = true)
    }
  }

  // ── CSV LOAD (reference scope/loader.c; LOAD stmt sql §2.1) ──────
  private def load(ld: LoadStmt): Result = {
    val s = scope
    val (kind, name) = s.resolve(ld.target).getOrElse(
      return Status(ok = false, s"unknown table ${ld.target}"))
    // AS-clause guard: the declared layout must match what the
    // catalog resolved ("vertex"/"type" for types, "edge" for edges,
    // or the type name itself)
    ld.asKind.foreach { k =>
      val okAs = k == kind || (k == "vertex" && kind == "type") ||
        k == name.toLowerCase
      if (!okAs) return Status(ok = false,
        s"LOAD AS $k does not match $kind $name")
    }
    val props = s.propsOf(name)
    // header=true also for "ignore": the first line is skipped either
    // way; "ignore" just maps columns positionally instead of by name.
    // JSONL reads with an all-string schema (typed casts below decide
    // validity per row, same as csv) plus a corrupt-record column so
    // malformed lines land in the error report instead of becoming
    // all-null rows. JSON fields always map by name.
    val jsonl = ld.format == "json"
    val raw0 =
      if (jsonl)
        spark.read
          .schema(org.apache.spark.sql.types.StructType(
            props.map(p => org.apache.spark.sql.types.StructField(
              p.name.toLowerCase,
              org.apache.spark.sql.types.StringType)) :+
              org.apache.spark.sql.types.StructField("_corrupt_record",
                org.apache.spark.sql.types.StringType)))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(ld.path)
      else spark.read
        .option("header", ld.header != "none")
        .option("mode", "PERMISSIVE")
        .csv(ld.path) // read everything as string; casts type per row
    val raw = raw0.toDF(raw0.columns.map(_.toLowerCase).toIndexedSeq: _*)
    val positional = !jsonl && ld.header != "use"
    val srcCols: Seq[(Prop, Column)] = props.zipWithIndex.map {
      case (p, i) =>
        val src =
          if (positional)
            if (i < raw.columns.length) col(raw.columns(i)) else lit(null)
          else if (raw.columns.contains(p.name.toLowerCase))
            col(p.name.toLowerCase)
          else lit(null)
        (p, src)
    }
    // ANSI mode (Spark 4 default) makes bare casts throw on malformed
    // cells — guard every cast so bad rows become error-report rows,
    // like the reference's per-row error file (loader.c).
    def typed(p: Prop, src: Column): Column = p.typ match {
      case "time" | "date" =>
        // ISO-8601; date-only and sub-second both allowed
        NowFunctions.tsToStamp(coalesce(
          try_to_timestamp(src, lit("yyyy-MM-dd'T'HH:mm:ss")),
          try_to_timestamp(src, lit("yyyy-MM-dd HH:mm:ss")),
          try_to_timestamp(src, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
          try_to_timestamp(src, lit("yyyy-MM-dd"))))
      case "int" | "uint" =>
        when(src.rlike("^[+-]?[0-9]+$"), src.cast("long"))
      case "float" =>
        when(src.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"),
          src.cast("double"))
      case "bool" =>
        when(lower(src).isin("true", "false"), lower(src) === "true")
      case t => src.cast(Catalog.sparkType(t))
    }
    val castCols = srcCols.map { case (p, src) => typed(p, src).as(p.name) }
    // errors: any non-null source cell that fails its typed cast
    // (plus, for JSONL, lines the json parser could not read at all)
    val badCast = srcCols.map { case (p, src) =>
      typed(p, src).isNull && src.isNotNull
    }.reduce(_ || _)
    val badPred =
      if (jsonl) badCast || col("_corrupt_record").isNotNull else badCast
    val withFlag = raw.withColumn("_bad", badPred)
    val errors = withFlag.filter(col("_bad")).drop("_bad")
    val good = withFlag.filter(!col("_bad")).drop("_bad")
    val errCount = errors.count()
    ld.errorsFile.foreach { ef =>
      if (errCount > 0)
        errors.coalesce(1).write.mode("overwrite").csv(ef)
    }
    val out = good.select(castCols: _*)
    val loaded = out.count()
    withTableWriteLock(s.name, name) {
      writeTable(name, out, s.tableDir(name).toString, "append")
    }
    Report(loaded, errCount)
  }

  // ── SELECT → DataFrame (the "planner", SURVEY §3.1 steps 3-4) ────
  private def aggExprOf(e: Expr, ctx: ExprBuilder.Ctx): Option[Column] =
    e match {
      case FnCall(name, args) if Parser.isAggregate(name) =>
        def a(i: Int): Column = ExprBuilder.build(args(i), ctx)
        val c = name match {
          case "count" => args.headOption match {
            case None | Some(Star()) => count(lit(1))
            case Some(x) => count(ExprBuilder.build(x, ctx))
          }
          case "sum" => sum(a(0))
          case "count_distinct" => countDistinct(a(0))
          case "sum_distinct" => sum_distinct(a(0))
          case "avg" | "average" => coalesce(avg(a(0)), lit(0.0))
          case "min" => min(a(0))
          case "max" => max(a(0))
          case "spread" => max(a(0)) - min(a(0))
          case "median" => // exact, like the reference's block-sort
            coalesce(call_function("percentile", a(0), lit(0.5))
              .cast("double"), lit(0.0))
          case "stddev" => coalesce(stddev_samp(a(0)), lit(0.0))
          case "prod" | "product" => product(a(0))
          case "mode" => mode(a(0))
          case "integral" => call_udf("now_integral", a(0), a(1))
          // subtotal marker, cast to the dialect's BIGINT convention
          case "grouping" => grouping(a(0)).cast("long")
        }
        Some(c)
      case _ => None
    }

  private def containsAgg(e: Expr): Boolean = e match {
    case FnCall(n, args) =>
      Parser.isAggregate(n) || args.exists(containsAgg)
    case BinOp(_, l, r) => containsAgg(l) || containsAgg(r)
    case UnOp(_, x) => containsAgg(x)
    case InList(x, vs, _) => containsAgg(x) || vs.exists(containsAgg)
    case IsNull(x, _) => containsAgg(x)
    case CaseExpr(bs, o) =>
      bs.exists(b => containsAgg(b._1) || containsAgg(b._2)) ||
        o.exists(containsAgg)
    case _ => false
  }

  /** Inline select-item aliases into an expression (HAVING may refer
    * to output aliases — `having q > 5` with `sum(x) as q` — which
    * must resolve to the underlying aggregate when the predicate is
    * evaluated inside the aggregation). */
  private def substAliases(e: Expr, aliases: Map[String, Expr]): Expr =
    e match {
      case Field(n, None) if aliases.contains(n.toLowerCase) =>
        aliases(n.toLowerCase)
      case FnCall(n, args) => FnCall(n, args.map(substAliases(_, aliases)))
      case BinOp(o, l, r) =>
        BinOp(o, substAliases(l, aliases), substAliases(r, aliases))
      case UnOp(o, x) => UnOp(o, substAliases(x, aliases))
      case InList(x, vs, neg) =>
        InList(substAliases(x, aliases), vs.map(substAliases(_, aliases)),
          neg)
      case IsNull(x, neg) => IsNull(substAliases(x, aliases), neg)
      case CaseExpr(bs, o) => CaseExpr(
        bs.map(b => (substAliases(b._1, aliases), substAliases(b._2, aliases))),
        o.map(substAliases(_, aliases)))
      case other => other
    }

  /** Build a Column where aggregate calls become agg expressions and
    * everything else builds normally. */
  private def buildWithAggs(e: Expr, ctx: ExprBuilder.Ctx): Column =
    aggExprOf(e, ctx).getOrElse(e match {
      case BinOp(op, l, r) if containsAgg(e) =>
        val lc = buildWithAggs(l, ctx); val rc = buildWithAggs(r, ctx)
        op match {
          case "+" => lc + rc;  case "-" => lc - rc
          case "*" => lc * rc
          case "/" =>
            // QUOT applies over aggregate results too: sum(int)/count
            // is the integer quotient in the reference's typing
            if (ExprBuilder.numKind(l, ctx).contains("int") &&
                ExprBuilder.numKind(r, ctx).contains("int"))
              NowFunctions.intDiv(lc, rc)
            else lc / rc
          case "%" => lc % rc
          case "^" => NowFunctions.power(lc, rc)
          case "and" => lc && rc; case "or" => lc || rc
          case "=" => lc === rc; case "!=" | "<>" => lc =!= rc
          case "<" => lc < rc; case ">" => lc > rc
          case "<=" => lc <= rc; case ">=" => lc >= rc
        }
      case UnOp("-", x) if containsAgg(e) => -buildWithAggs(x, ctx)
      case UnOp("not", x) if containsAgg(e) => !buildWithAggs(x, ctx)
      case InList(x, vs, neg) if containsAgg(e) =>
        val c = buildWithAggs(x, ctx)
        val in = vs.map(v => c === buildWithAggs(v, ctx)).reduce(_ || _)
        if (neg) !in else in
      case IsNull(x, neg) if containsAgg(e) =>
        val c = buildWithAggs(x, ctx)
        if (neg) c.isNotNull else c.isNull
      case CaseExpr(bs, o) if containsAgg(e) =>
        val base = bs.foldLeft(Option.empty[Column]) { (acc, b) =>
          val w = buildWithAggs(b._1, ctx)
          val t = buildWithAggs(b._2, ctx)
          Some(acc.fold(when(w, t))(_.when(w, t)))
        }.get
        o.fold(base)(x => base.otherwise(buildWithAggs(x, ctx)))
      case FnCall("tofloat", Seq(x)) if containsAgg(e) =>
        buildWithAggs(x, ctx).cast("double")
      // scalar wrappers over aggregate expressions, mirroring the
      // ExprBuilder builders — `round(sum(x) / sum(y), 6)` is TPC-H
      // q8/q14's shape (r13)
      case FnCall("round", Seq(x)) if containsAgg(e) =>
        round(buildWithAggs(x, ctx))
      case FnCall("round", Seq(x, Lit(n: Long, _))) if containsAgg(e) =>
        round(buildWithAggs(x, ctx), n.toInt)
      case FnCall("abs", Seq(x)) if containsAgg(e) =>
        abs(buildWithAggs(x, ctx))
      case FnCall("floor", Seq(x)) if containsAgg(e) =>
        floor(buildWithAggs(x, ctx))
      case FnCall("ceil", Seq(x)) if containsAgg(e) =>
        ceil(buildWithAggs(x, ctx))
      case _ => ExprBuilder.build(e, ctx)
    })

  private def defaultName(e: Expr, idx: Int): String = e match {
    case Field(n, _) => n
    case FnCall(n, _) => s"${n}_$idx"
    case _ => s"col_$idx"
  }

  private def nsToDate(ns: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(ns, 1000000000L))
      .toString.take(10)

  /** Extract conjunctive [start,end] ns bounds on `stamp` from a WHERE
    * AST (string literals parse as ISO stamps). Only top-level AND
    * conjuncts contribute — disjunctions disable pruning, like the
    * reference's period walk. */
  private def stampPeriod(w: Expr): Option[(Long, Long)] = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case BinOp("and", l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var found = false
    def bound(op: String, t: Long): Unit = op match {
      case ">=" | ">" => lo = math.max(lo, t); found = true
      case "<=" | "<" => hi = math.min(hi, t); found = true
      case "=" =>
        lo = math.max(lo, t); hi = math.min(hi, t); found = true
      case _ =>
    }
    def flip(op: String): String = op match {
      case ">=" => "<="; case ">" => "<"
      case "<=" => ">="; case "<" => ">"
      case o => o
    }
    conjuncts(w).foreach {
      case BinOp(op, Field(n, _), Lit(s: String, "string"))
          if n.equalsIgnoreCase("stamp") =>
        ExprBuilder.parseTime(s).foreach(bound(op, _))
      case BinOp(op, Lit(s: String, "string"), Field(n, _))
          if n.equalsIgnoreCase("stamp") =>
        ExprBuilder.parseTime(s).foreach(bound(flip(op), _))
      case _ =>
    }
    if (found) Some((lo, hi)) else None
  }

  private def orderCols(ob: Seq[(Ast.Field, Boolean)]): Seq[Column] =
    ob.map { case (f, a) => if (a) asc(f.name) else desc(f.name) }

  /** Typing context for a whole select: from-table columns bare and
    * alias-qualified, edge-joined vertex columns qualified only —
    * exactly the map buildSelectNoLimit assembles inline. */
  private def selectCtx(sel: SelectStmt): ExprBuilder.Ctx =
    sel.from match {
      case None => Map.empty
      case Some(fromName) =>
        val fromAlias = sel.fromAlias.getOrElse(fromName)
        val base0 = typeCtx(fromName)
        // the TIMESTAMP field keyword resolves to the stamp column on
        // stamped edges (buildSelectNoLimit's rewrite) — type it too
        val base =
          if (isStampedEdge(fromName) && !base0.contains("timestamp"))
            base0 ++ base0.get("stamp").map("timestamp" -> _)
          else base0
        base ++ base.map { case (k, v) =>
          s"${fromAlias.toLowerCase}.$k" -> v } ++
          sel.joins.flatMap { j =>
            val vAlias = j.alias.getOrElse(j.typeName)
            typeCtx(j.typeName).map { case (k, v) =>
              s"${vAlias.toLowerCase}.$k" -> v }
          } ++
          sel.ansiJoins.flatMap { aj =>
            val aAlias = aj.alias.getOrElse(aj.table)
            typeCtx(aj.table).map { case (k, v) =>
              s"${aAlias.toLowerCase}.$k" -> v }
          } ++
          // r13: joined tables' columns are also visible UNQUALIFIED
          // (comma joins made `o_orderdate >= '1996-01-01'` with
          // orders as a joined table a routine spelling) — add their
          // bare names too, without letting them shadow the FROM
          // table's own columns on a name collision. The shadow test
          // uses the FROM table's ACTUAL column set, not the
          // kind-limited typeCtx (advice finding: a decimal/date FROM
          // column would otherwise lose to a joined table's same-named
          // column); and a bare name whose KIND disagrees across two
          // joined tables is dropped as ambiguous rather than letting
          // map order decide (advice finding) — qualified references
          // to it still type fine.
          {
            val fromCols =
              tryColsOf(fromName).getOrElse(base.keySet.toSet)
            val joinedBare = sel.ansiJoins.filterNot(_.generated)
              .flatMap(aj => typeCtx(aj.table).toSeq)
              .filterNot { case (k, _) =>
                base.contains(k) || fromCols(k) }
            val ambiguous = joinedBare.groupBy(_._1).collect {
              case (k, vs) if vs.map(_._2).distinct.size > 1 => k
            }.toSet
            joinedBare.filterNot { case (k, _) => ambiguous(k) }
          }
    }

  /** Re-attach the `graft.nowType` marker to COMPUTED time-typed
    * output columns. Schema metadata only rides plain attribute
    * references through a plan, so `max(at)` or `at + 1` would reach
    * the binary wire untagged and frame as INT(5) — the reference
    * tags by the resolved expression type (query/row.c:138-207), so
    * computed time values must stay TIME(3). Plain fields and `*`
    * keep their scan-attached metadata and are skipped. */
  private def tagTimeItems(df: DataFrame, sel: SelectStmt): DataFrame = {
    lazy val ctx = selectCtx(sel)
    sel.items.zipWithIndex.foldLeft(df) { case (d, (it, i)) =>
      it.expr match {
        case _: Field | _: Star => d // attribute refs carry metadata
        case e => ExprBuilder.timeKind(e, ctx) match {
          case Some(k) =>
            val nm = it.alias.getOrElse(defaultName(e, i))
            // exactly-once guard: withMetadata on a duplicated output
            // name (select max(at) as x, min(at) as x) would throw an
            // ambiguity error — such a column stays untagged instead.
            // Case-INSENSITIVE, matching Spark's resolver: aliases
            // X and x collide there even though the strings differ.
            if (d.columns.count(_.equalsIgnoreCase(nm)) == 1)
              d.withMetadata(nm, new org.apache.spark.sql.types
                .MetadataBuilder().putString("graft.nowType", k).build())
            else d
          case None => d
        }
      }
    }
  }

  private[engine] def buildSelect(sel: SelectStmt): DataFrame = {
    // Derived tables `FROM (SELECT …) alias` bind first, as transient
    // tables scoped to this build (Datasets analyze eagerly, so the
    // bindings only need to live through plan construction — which
    // includes tagTimeItems' typing pass) — every later phase then
    // sees the alias as an ordinary table. Later bindings see earlier
    // ones, like CTEs.
    if (sel.derived.nonEmpty) {
      val saved = cteBindings.get
      try {
        sel.derived.foreach { case (n, ds) =>
          cteBindings.set(
            cteBindings.get + (n.toLowerCase -> buildSelect(ds)))
        }
        return buildSelect(sel.copy(derived = Seq.empty))
      } finally cteBindings.set(saved)
    }
    val base = tagTimeItems(buildSelectNoLimit(sel), sel)
    val off = sel.offset.fold(base)(m => base.offset(m.toInt))
    sel.limit.fold(off)(n => off.limit(n.toInt))
  }

  /** Evaluate an uncorrelated scalar subquery to a literal — exactly
    * one row, one column; a bounded (1×1) collect by construction. */
  private def evalScalar(sub: SelectStmt): Lit = {
    val df =
      try buildSelect(sub)
      catch {
        // a scalar correlated to a scope this engine cannot thread
        // (qualified with a name outside the subquery's own aliases)
        // reaches this standalone build, where its outer refs cannot
        // resolve — name the actual limitation. An ordinary resolver
        // failure (a typo'd column, no outside qualifiers anywhere)
        // must NOT get the correlation diagnosis (review finding):
        // rethrow it as a plain scalar-subquery failure instead.
        case e: org.apache.spark.sql.AnalysisException =>
          val ownAliases =
            sub.from.map(f => sub.fromAlias.getOrElse(f).toLowerCase)
              .toSet ++
              sub.joins.map(j =>
                j.alias.getOrElse(j.typeName).toLowerCase) ++
              sub.ansiJoins.map(a =>
                a.alias.getOrElse(a.table).toLowerCase)
          val refsOutside =
            (sub.where.toSeq.flatMap(fieldsOf) ++
              sub.items.flatMap(it => fieldsOf(it.expr)) ++
              sub.having.toSeq.flatMap(fieldsOf))
              .exists(_.qualifier.exists(q => !ownAliases(q.toLowerCase)))
          if (refsOutside)
            throw new IllegalArgumentException(
              "scalar subquery could not be evaluated standalone " +
                "(correlated scalar subqueries are only supported " +
                "against the top-level query or the directly " +
                s"enclosing subquery): ${e.getMessage}")
          else throw new IllegalArgumentException(
            s"scalar subquery failed: ${e.getMessage}")
      }
    if (df.columns.length != 1)
      throw new IllegalArgumentException(
        s"scalar subquery must return one column, got ${df.columns.length}")
    val rows = df.limit(2).collect()
    if (rows.length != 1)
      throw new IllegalArgumentException(
        s"scalar subquery returned ${rows.length} rows, expected 1")
    rows(0).get(0) match {
      case null => Lit(null, "null")
      case v: java.lang.Long => Lit(v.longValue, "uint")
      case v: java.lang.Integer => Lit(v.longValue, "uint")
      case v: java.lang.Short => Lit(v.longValue, "uint")
      case v: java.lang.Double => Lit(v.doubleValue, "float")
      case v: java.lang.Float => Lit(v.doubleValue, "float")
      case v: String => Lit(v, "string")
      case v: java.lang.Boolean => Lit(v.booleanValue, "bool")
      case v: java.math.BigDecimal => Lit(v.doubleValue, "float")
      case other => Lit(other, "scalar")
    }
  }

  /** Inline every fully UNcorrelated ScalarSelect as its evaluated
    * literal; a scalar correlated to ANY enclosing scope — the
    * statement itself or a subquery we are currently inside (`outers`
    * is innermost-first) — is left in place for the join desugars.
    * Descending into an IN/EXISTS subquery pushes that subquery onto
    * the scope stack, so a scalar inside it that references the
    * subquery's own table is recognized as correlated there instead
    * of being misclassified against the top scope (r11 verdict task:
    * scalars correlated to an enclosing subquery). */
  private def substScalars(e: Expr, outers: Seq[SelectStmt]): Expr =
    e match {
      case ss @ ScalarSelect(sub) =>
        // a scope that can PROVE the name resolves nowhere throws
        // UnknownColumn — but an outer scope further up may still
        // resolve it, so the classification only fails this scope;
        // if no scope correlates, evalScalar surfaces the resolver's
        // own clean failure
        if (outers.exists(o =>
            try isCorrelatedSub(sub, o)
            catch { case _: Engine.UnknownColumn => false })) ss
        else evalScalar(sub)
      case BinOp(o, l, r) =>
        BinOp(o, substScalars(l, outers), substScalars(r, outers))
      case UnOp(o, x) => UnOp(o, substScalars(x, outers))
      case InList(x, vs, n) =>
        InList(substScalars(x, outers), vs.map(substScalars(_, outers)), n)
      case InSelect(x, sub, n) => InSelect(substScalars(x, outers),
        sub.copy(where = sub.where.map(substScalars(_, sub +: outers))), n)
      case ExistsSel(sub, n) => ExistsSel(
        sub.copy(where = sub.where.map(substScalars(_, sub +: outers))), n)
      case IsNull(x, n) => IsNull(substScalars(x, outers), n)
      case CaseExpr(bs, o) => CaseExpr(
        bs.map(b => (substScalars(b._1, outers), substScalars(b._2, outers))),
        o.map(substScalars(_, outers)))
      case FnCall(n, args) => FnCall(n, args.map(substScalars(_, outers)))
      case other => other
    }

  private def conjuncts(e: Expr): Seq[Expr] = e match {
    case BinOp("and", l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def containsInSelect(e: Expr): Boolean = e match {
    case _: InSelect => true
    case _: ExistsSel => true
    case BinOp(_, l, r) => containsInSelect(l) || containsInSelect(r)
    case UnOp(_, x) => containsInSelect(x)
    case InList(x, vs, _) =>
      containsInSelect(x) || vs.exists(containsInSelect)
    case IsNull(x, _) => containsInSelect(x)
    case CaseExpr(bs, o) =>
      bs.exists(b => containsInSelect(b._1) || containsInSelect(b._2)) ||
        o.exists(containsInSelect)
    case FnCall(_, args) => args.exists(containsInSelect)
    case _ => false
  }

  private def containsScalarSelect(e: Expr): Boolean = e match {
    case _: ScalarSelect => true
    case BinOp(_, l, r) =>
      containsScalarSelect(l) || containsScalarSelect(r)
    case UnOp(_, x) => containsScalarSelect(x)
    case InList(x, vs, _) =>
      containsScalarSelect(x) || vs.exists(containsScalarSelect)
    case IsNull(x, _) => containsScalarSelect(x)
    case CaseExpr(bs, o) =>
      bs.exists(b =>
        containsScalarSelect(b._1) || containsScalarSelect(b._2)) ||
        o.exists(containsScalarSelect)
    case FnCall(_, args) => args.exists(containsScalarSelect)
    case _ => false
  }

  private def fieldsOf(e: Expr): Seq[Field] = e match {
    case f: Field => Seq(f)
    case BinOp(_, l, r) => fieldsOf(l) ++ fieldsOf(r)
    case UnOp(_, x) => fieldsOf(x)
    case InList(x, vs, _) => fieldsOf(x) ++ vs.flatMap(fieldsOf)
    case IsNull(x, _) => fieldsOf(x)
    case CaseExpr(bs, o) =>
      bs.flatMap(b => fieldsOf(b._1) ++ fieldsOf(b._2)) ++
        o.toSeq.flatMap(fieldsOf)
    case FnCall(_, args) => args.flatMap(fieldsOf)
    case _ => Seq.empty
  }

  /** fieldsOf, but ALSO descending into nested subqueries (their
    * select items, WHEREs, join conditions, GROUP BY and HAVING) —
    * used by the reaches-outermost rejection, which must see a deep
    * outer reference wherever it hides (advice finding: the shallow
    * scan let refs buried one subquery deeper die later as a
    * misleading unknown-column error). */
  private def deepFields(e: Expr): Seq[Field] = e match {
    case f: Field => Seq(f)
    case BinOp(_, l, r) => deepFields(l) ++ deepFields(r)
    case UnOp(_, x) => deepFields(x)
    case InList(x, vs, _) => deepFields(x) ++ vs.flatMap(deepFields)
    case IsNull(x, _) => deepFields(x)
    case CaseExpr(bs, o) =>
      bs.flatMap(b => deepFields(b._1) ++ deepFields(b._2)) ++
        o.toSeq.flatMap(deepFields)
    case FnCall(_, args) => args.flatMap(deepFields)
    case InSelect(x, s2, _) => deepFields(x) ++ deepFieldsSel(s2)
    case ExistsSel(s2, _) => deepFieldsSel(s2)
    case ScalarSelect(s2) => deepFieldsSel(s2)
    case _ => Seq.empty
  }
  private def deepFieldsSel(s: SelectStmt): Seq[Field] =
    s.items.map(_.expr).flatMap(deepFields) ++
      s.where.toSeq.flatMap(deepFields) ++
      s.ansiJoins.map(_.on).flatMap(deepFields) ++
      s.groupBy.flatMap(deepFields) ++
      s.having.toSeq.flatMap(deepFields)

  /** Every alias visible in `s` or any subquery nested in it. */
  private def deepAliases(s: SelectStmt): Set[String] =
    outerQualifiers(s) ++ deepSubSelects(s).flatMap(outerQualifiers)
  /** Every column name owned by a table of `s` or of any subquery
    * nested in it (best effort — unresolvable names contribute
    * nothing). */
  private def deepCols(s: SelectStmt): Set[String] =
    (s +: deepSubSelects(s)).flatMap(sel =>
      (sel.from.toSeq ++
        sel.ansiJoins.filterNot(_.generated).map(_.table))
        .flatMap(t => tryColsOf(t).getOrElse(Set.empty))).toSet
  /** IMMEDIATE subquery SELECTs in expression position. */
  private def subSelectsOf(e: Expr): Seq[SelectStmt] = e match {
    case BinOp(_, l, r) => subSelectsOf(l) ++ subSelectsOf(r)
    case UnOp(_, x) => subSelectsOf(x)
    case InList(x, vs, _) => subSelectsOf(x) ++ vs.flatMap(subSelectsOf)
    case IsNull(x, _) => subSelectsOf(x)
    case CaseExpr(bs, o) =>
      bs.flatMap(b => subSelectsOf(b._1) ++ subSelectsOf(b._2)) ++
        o.toSeq.flatMap(subSelectsOf)
    case FnCall(_, args) => args.flatMap(subSelectsOf)
    case InSelect(x, s2, _) => subSelectsOf(x) :+ s2
    case ExistsSel(s2, _) => Seq(s2)
    case ScalarSelect(s2) => Seq(s2)
    case _ => Seq.empty
  }
  private def immediateSubSelects(s: SelectStmt): Seq[SelectStmt] =
    (s.items.map(_.expr) ++ s.where.toSeq ++ s.ansiJoins.map(_.on) ++
      s.groupBy ++ s.having.toSeq).flatMap(subSelectsOf)
  private def deepSubSelects(s: SelectStmt): Seq[SelectStmt] =
    immediateSubSelects(s).flatMap(x => x +: deepSubSelects(x))

  /** Every table name a statement references, at any depth — FROM,
    * joins, derived-table bodies and expression-position subqueries.
    * Used for recursive-CTE detection (a binding referencing its own
    * name) and the mutual-recursion rejection; shadowing precision is
    * not needed because the recursive path rejects buried
    * self-references by name anyway. */
  private def referencedTables(st: Statement): Seq[String] = st match {
    case s: SelectStmt =>
      s.from.toSeq ++ s.ansiJoins.map(_.table) ++
        s.joins.map(_.typeName) ++
        s.derived.flatMap(d => referencedTables(d._2)) ++
        immediateSubSelects(s).flatMap(referencedTables)
    case SetOpStmt(_, _, l, r) =>
      referencedTables(l) ++ referencedTables(r)
    case WithStmt(bs, body, _) =>
      bs.flatMap(b => referencedTables(b.stmt)) ++ referencedTables(body)
    case _ => Seq.empty
  }

  /** The ACTUAL lowercased column set of a table (catalog, attached,
    * CTE or view) — unlike typeCtx, which is kind-limited
    * (kindsFromSchema omits decimal/timestamp/date/array columns), so
    * it is the right membership test for "is a base column". None
    * when the name doesn't resolve; only resolution failures are
    * swallowed — genuine errors (OOM, interrupts) propagate
    * (advice finding: a blanket Throwable catch masked them). */
  private def tryColsOf(t: String): Option[Set[String]] =
    try Some(columnsOf(t).map(_.toLowerCase).toSet)
    catch {
      // NonFatal: any resolution failure (bad name, broken stored
      // view re-parsed via resolveView → ParseError, unreadable
      // parquet → IO error) degrades to "columns unknown", which is
      // the contract of this best-effort probe; only VM-fatal errors
      // (OOM, interrupts) propagate (advice finding: the narrowed
      // 3-type catch turned a ParseError from a broken view into a
      // hard failure of a heuristic scope check)
      case scala.util.control.NonFatal(_) => None
    }

  /** Qualifiers visible on the outer side of `sel` (FROM alias plus
    * edge-join and ANSI-join aliases), lowercase. */
  private def outerQualifiers(sel: SelectStmt): Set[String] =
    sel.from.map(f => sel.fromAlias.getOrElse(f).toLowerCase).toSet ++
      sel.joins.map(j => j.alias.getOrElse(j.typeName).toLowerCase) ++
      sel.ansiJoins.map(a => a.alias.getOrElse(a.table).toLowerCase)

  /** Does the subquery's WHERE reference the outer scope? Innermost
    * scope wins, as in standard SQL: a field qualified with the inner
    * alias, or an unqualified name the inner table has, is an inner
    * ref; a field qualified with an outer alias, or an unqualified
    * name only the outer scope resolves, is a correlation. */
  private def isCorrelatedSub(sub: SelectStmt,
      outerSel: SelectStmt): Boolean =
    sub.from.isDefined && sub.where.isDefined && {
      val innerAlias = sub.fromAlias.getOrElse(sub.from.get).toLowerCase
      // the subquery's OWN join aliases are part of its inner scope —
      // a qualifier naming one of them is never a correlation, and
      // when the sub has joins an unqualified name can resolve to any
      // joined table, so it must ride the uncorrelated buildSelect
      // path rather than be misread as an outer reference
      val subAliases = Set(innerAlias) ++
        sub.joins.map(j => j.alias.getOrElse(j.typeName).toLowerCase) ++
        sub.ansiJoins.map(a => a.alias.getOrElse(a.table).toLowerCase)
      val hasEdgeJoins = sub.joins.nonEmpty
      var innerKnown = true
      def colsOf(t: String): Set[String] =
        tryColsOf(t).getOrElse {
          innerKnown = false; Set.empty[String] }
      // the sub's inner scope is the UNION of all its tables' columns
      // (FROM + ANSI/comma joins): with joins present an unqualified
      // name must check against the whole union, or a multi-table
      // subquery's own columns would be misread as correlations —
      // TPC-H q2's scalar comma-joins four tables (r13)
      val innerCols = colsOf(sub.from.get) ++
        sub.ansiJoins.filterNot(_.generated).flatMap(a => colsOf(a.table))
      val outers = outerQualifiers(outerSel) -- subAliases
      // outer-scope column names, resolved lazily (only consulted for
      // unqualified names the inner table lacks); (cols, allResolved)
      lazy val outerColInfo: (Set[String], Boolean) = {
        val tables = outerSel.from.toSeq ++
          outerSel.joins.map(_.typeName) ++
          outerSel.ansiJoins.map(_.table)
        var all = true
        val cols = tables.flatMap { t =>
          tryColsOf(t).getOrElse { all = false; Set.empty[String] }
        }.toSet
        (cols, all)
      }
      fieldsOf(sub.where.get).exists(f => f.qualifier match {
        case Some(q) =>
          val ql = q.toLowerCase; !subAliases(ql) && outers(ql)
        case None =>
          // edge joins keep the conservative pre-r13 behavior (their
          // vertex columns aren't folded into the union, so an
          // unqualified name could be either scope's); with an
          // unresolvable inner schema, joined subs likewise route
          // down the uncorrelated build path as before. Otherwise an
          // unqualified name resolving in NO inner table is an outer
          // reference.
          !hasEdgeJoins &&
            (if (!innerKnown)
              sub.ansiJoins.filterNot(_.generated).isEmpty
            else !innerCols(f.name.toLowerCase)) && {
            // a name resolving in NEITHER scope is a typo'd column,
            // not a correlation — routing it down the correlated
            // desugar would fail with a confusing scoping error
            // (review finding). Only provable when both scopes'
            // schemas resolved.
            val (oCols, oKnown) = outerColInfo
            if (innerKnown && oKnown && !oCols(f.name.toLowerCase))
              throw new Engine.UnknownColumn(
                s"unknown column ${f.name} (resolves in neither the " +
                  "subquery's scope nor the enclosing scope)")
            true
          }
      })
    }

  /** Shared scoping/qualification for correlated-subquery desugars
    * (EXISTS/IN semi-anti joins and scalar-aggregate left joins):
    * innermost-first name resolution, plus a rewriter that qualifies
    * every field to its resolved scope so join conditions stay
    * unambiguous when both sides share column names. */
  private class CorrScope(sub: SelectStmt, outerSel: SelectStmt,
      extraInner: Set[String] = Set.empty) {
    val innerName: String = sub.from.getOrElse(
      throw new IllegalArgumentException(
        "EXISTS/IN/scalar subquery needs a FROM table"))
    val innerAliasRaw: String = sub.fromAlias.getOrElse(innerName)
    val innerAlias: String = innerAliasRaw.toLowerCase
    /** All the subquery's own tables: FROM plus comma/ANSI joins
      * (r13 — TPC-H q2's correlated scalar joins four tables), as
      * (aliasRaw, tableName) in declared order. Generated joins (the
      * nested-scalar frames) are threaded via `extraInner` instead. */
    val innerTables: Seq[(String, String)] =
      (innerAliasRaw, innerName) +: sub.ansiJoins.filterNot(_.generated)
        .map(a => (a.alias.getOrElse(a.table), a.table))
    val innerColsByAlias: Seq[(String, Set[String])] =
      innerTables.map { case (a, t) =>
        a -> columnsOf(t).map(_.toLowerCase).toSet }
    val innerAliases: Set[String] =
      innerTables.map(_._1.toLowerCase).toSet
    val innerCols: Set[String] = innerColsByAlias.flatMap(_._2).toSet
    val outers: Set[String] = outerQualifiers(outerSel) -- innerAliases
    val outerBase: String = outerSel.fromAlias.getOrElse(outerSel.from.get)
    val outerBaseCols: Set[String] =
      columnsOf(outerSel.from.get).map(_.toLowerCase).toSet
    val innerCtx: ExprBuilder.Ctx = innerTables.flatMap { case (a, t) =>
      val tc = typeCtx(t)
      tc ++ tc.map { case (k, v) => s"${a.toLowerCase}.$k" -> v }
    }.toMap
    /** Alias-qualified inner typing only — safe to merge with an
      * outer ctx without bare-name collisions. */
    val innerCtxQualified: ExprBuilder.Ctx =
      innerTables.flatMap { case (a, t) =>
        typeCtx(t).map { case (k, v) => s"${a.toLowerCase}.$k" -> v }
      }.toMap
    def isOuter(f: Field): Boolean = f.qualifier match {
      case Some(q) => val ql = q.toLowerCase
        !innerAliases(ql) && outers(ql)
      case None => !innerCols(f.name.toLowerCase)
    }
    /** Alias owning an unqualified inner column — FROM table first,
      * then joined tables in declared order (SQL would call a true
      * cross-table ambiguity an error; the declared-order preference
      * only applies to names a single table owns in practice). */
    private def innerOwner(name: String): Option[String] =
      innerColsByAlias.collectFirst {
        case (a, cols) if cols(name) => a }
    def qualify(e: Expr, preferInner: Boolean): Expr = e match {
      case f: Field if f.qualifier.isEmpty =>
        if (preferInner && innerCols(f.name.toLowerCase))
          f.copy(qualifier = innerOwner(f.name.toLowerCase))
        else if (outerBaseCols(f.name.toLowerCase))
          f.copy(qualifier = Some(outerBase))
        else if (innerCols(f.name.toLowerCase))
          f.copy(qualifier = innerOwner(f.name.toLowerCase))
        else f
      case BinOp(o, l, r) =>
        BinOp(o, qualify(l, preferInner), qualify(r, preferInner))
      case UnOp(o, x) => UnOp(o, qualify(x, preferInner))
      case InList(x, vs, n) =>
        InList(qualify(x, preferInner), vs.map(qualify(_, preferInner)), n)
      case IsNull(x, n) => IsNull(qualify(x, preferInner), n)
      case CaseExpr(bs, o) => CaseExpr(
        bs.map(b => (qualify(b._1, preferInner), qualify(b._2, preferInner))),
        o.map(qualify(_, preferInner)))
      case FnCall(n, args) => FnCall(n, args.map(qualify(_, preferInner)))
      case other => other
    }
    /** Split the subquery WHERE into (correlated, local) conjuncts;
      * rejects nested subqueries inside. Scalar subqueries correlated
      * to THIS subquery's scope are desugared away before this runs
      * (correlatedSemiAnti); one left in place is therefore correlated
      * to a scope we cannot thread — a distinct precise error from
      * the IN/EXISTS nesting one (review finding: the ScalarSelect
      * case used to fall through to a generic position error). */
    def splitWhere(): (Seq[Expr], Seq[Expr]) = {
      val subConj = sub.where.map(conjuncts).getOrElse(Seq.empty)
      if (subConj.exists(containsInSelect))
        throw new IllegalArgumentException(
          "nested subqueries inside a correlated subquery are not supported")
      if (subConj.exists(containsScalarSelect))
        throw new IllegalArgumentException(
          "a scalar subquery inside a correlated subquery may " +
            "correlate to that subquery's own scope or to the " +
            "enclosing query's scope (or be fully uncorrelated); " +
            "correlating PAST the enclosing query, or mixing scopes " +
            "in one subquery, is not supported")
      // a qualifier naming NEITHER this scope nor the enclosing one
      // is a correlation this desugar cannot thread (e.g. a scalar
      // mixing its own scope with one two levels up) — name the rule
      // instead of letting the resolver fail on the filtered scan
      subConj.flatMap(fieldsOf).foreach(f => f.qualifier.foreach { q =>
        val ql = q.toLowerCase
        if (!innerAliases(ql) && !outers(ql) && !extraInner(ql))
          throw new IllegalArgumentException(
            s"$q.${f.name} references a scope that is neither this " +
              "subquery's own nor its directly enclosing query's — " +
              "correlating past the enclosing scope (or mixing " +
              "scopes in one subquery) is not supported")
      })
      subConj.partition(c => fieldsOf(c).exists(isOuter))
    }
    /** The subquery's own scan: FROM table joined with its declared
      * (non-generated) ANSI/comma joins in order. Comma joins carry a
      * TRUE condition — their equi-predicates arrive from the local
      * WHERE conjuncts and Catalyst pushes them into the join. */
    def innerScan: DataFrame =
      sub.ansiJoins.filterNot(_.generated)
        .foldLeft(tableDf(innerName).as(innerAliasRaw)) { (f, aj) =>
          val aAlias = aj.alias.getOrElse(aj.table)
          f.join(tableDf(aj.table).as(aAlias),
            ExprBuilder.build(aj.on, innerCtx), aj.kind)
        }
    /** The inner scan, aliased, pre-filtered by the local conjuncts.
      * `base` overrides the scan when the caller pre-joined desugared
      * scalar-aggregate frames onto it. */
    def innerFrame(local: Seq[Expr],
                   base0: Option[DataFrame] = None): DataFrame = {
      val base = base0.getOrElse(innerScan)
      local.reduceOption(BinOp("and", _, _)).fold(base)(w =>
        base.filter(ExprBuilder.build(qualify(w, preferInner = true),
          innerCtx)))
    }
    /** Shape guard. r13 relaxations: ANSI/comma joins are legal in
      * every correlated subquery (the inner side becomes a joined
      * scan — TPC-H q2's scalar), and scalarJoin validates GROUP BY
      * itself (legal exactly when it groups by the correlation
      * keys). Edge joins, HAVING, LIMIT/OFFSET and ORDER BY inside a
      * correlated subquery stay rejected by name. */
    def requirePlainShape(what: String,
                          allowGroupBy: Boolean = false): Unit = {
      if (sub.joins.nonEmpty)
        throw new IllegalArgumentException(
          s"$what may not use the edge-join form")
      if (sub.groupBy.nonEmpty && !allowGroupBy)
        throw new IllegalArgumentException(
          s"$what may not use GROUP BY")
      if (sub.having.isDefined || sub.limit.isDefined ||
          sub.offset.isDefined || sub.orderBy.nonEmpty)
        throw new IllegalArgumentException(
          s"$what must be a plain SELECT ... FROM [joins] ... WHERE")
    }
  }

  /** Replace every ScalarSelect node `shouldRw` accepts, recursing
    * through the expression tree (shared by the top-level and the
    * nested correlated-scalar desugars). */
  private def rewriteScalarSubs(e: Expr, shouldRw: SelectStmt => Boolean,
      repl: SelectStmt => Expr): Expr = {
    def rw(x: Expr): Expr = rewriteScalarSubs(x, shouldRw, repl)
    e match {
      case ScalarSelect(s2) if shouldRw(s2) => repl(s2)
      case BinOp(o, l, r) => BinOp(o, rw(l), rw(r))
      case UnOp(o, x) => UnOp(o, rw(x))
      case InList(x, vs, n) => InList(rw(x), vs.map(rw), n)
      case IsNull(x, n) => IsNull(rw(x), n)
      case CaseExpr(bs, o2) =>
        CaseExpr(bs.map(b => (rw(b._1), rw(b._2))), o2.map(rw))
      case FnCall(n, args) => FnCall(n, args.map(rw))
      case other => other
    }
  }

  /** Apply one [NOT] IN/EXISTS (SELECT …) conjunct to `df` as a
    * left-semi/left-anti join — the shared routing for top-level
    * WHERE conjuncts and (r13) conjuncts nested inside a correlated
    * subquery, where `df` is the subquery's own inner scan and
    * `outerSel` the subquery itself. */
  private def applySubPred(df0: DataFrame, pred: Expr,
      outerSel: SelectStmt, ctx: ExprBuilder.Ctx): DataFrame = {
    var df = df0
    pred match {
      case InSelect(x, sub, neg) if !isCorrelatedSub(sub, outerSel) =>
        val subDf = buildSelect(sub)
        if (subDf.columns.length != 1)
          throw new IllegalArgumentException(
            s"IN subquery must return one column, got ${subDf.columns.length}")
        val probe = subDf.toDF("__graft_in").distinct()
        val probeCol = ExprBuilder.build(x, ctx)
        if (!neg)
          // positive IN: a keyed semi join IS ANSI-exact (NULL probes
          // never equi-match; a NULL in the list can only flip
          // non-matches to NULL, which the filter drops either way)
          df = df.join(probe, probeCol === col("__graft_in"), "left_semi")
        else {
          // NOT IN under ANSI 3VL: x NOT IN S is TRUE only when S is
          // empty, or x is non-NULL, S holds no NULL and no match.
          // One bounded aggregate job (1 row: n, n non-null) picks the
          // shape, keeping the fast equi anti join for the dominant
          // NULL-free case instead of an OR-blanked non-equi join.
          val st = subDf.select(col(subDf.columns.head).as("__graft_v"))
            .agg(count(lit(1)), count(col("__graft_v"))).collect()(0)
          val (n, nonNull) = (st.getLong(0), st.getLong(1))
          df =
            if (n == 0L) df // NOT IN (empty) is TRUE for every row
            else if (n > nonNull) df.filter(lit(false)) // NULL ∈ S
            else df.filter(probeCol.isNotNull)
              .join(probe, probeCol === col("__graft_in"), "left_anti")
        }
      case InSelect(x, sub, neg) =>
        df = correlatedSemiAnti(df, Some(x), sub, neg, outerSel, ctx)
      case ExistsSel(sub, neg) =>
        df = correlatedSemiAnti(df, None, sub, neg, outerSel, ctx)
      case _ => ()
    }
    df
  }

  /** Desugar a correlated (or shape-compatible uncorrelated)
    * `[NOT] EXISTS` / `x [NOT] IN (SELECT …)` into ONE
    * left-semi/left-anti join: the subquery's outer-referencing WHERE
    * conjuncts become the join condition (plus the probe predicate for
    * IN), its purely-local conjuncts filter the inner scan before the
    * join. This is the scale shape — Catalyst extracts the equi-keys
    * and both sides shuffle (or the inner broadcasts); nothing
    * re-executes per outer row.
    *
    * NOT IN carries ANSI three-valued NULL semantics (r11 verdict
    * task 4): the anti-join condition is
    * `probe = item OR probe IS NULL OR item IS NULL`, so an outer row
    * is eliminated exactly when its correlated set is non-empty and
    * either contains the probe, contains a NULL item, or the probe is
    * NULL — the ANSI truth table. The correlation equalities still
    * provide the join's equi-keys; the OR is a residual predicate on
    * the same shuffled join, so the plan stays a keyed anti join.
    *
    * A scalar-aggregate subquery inside the correlated WHERE that
    * correlates to THIS subquery's own scope desugars first (one more
    * CorrScope level): its aggregated frame left-joins onto the inner
    * scan, and the scalar node becomes a plain column reference —
    * never a per-row re-execution. */
  private def correlatedSemiAnti(df: DataFrame, probe: Option[Expr],
      sub0: SelectStmt, neg: Boolean, outerSel: SelectStmt,
      outerCtx: ExprBuilder.Ctx): DataFrame = {
    // one more nesting level: scalars correlated to sub0's own scope
    var nestedJoins = Vector.empty[(String, DataFrame, Expr)]
    def corrToSub(s2: SelectStmt): Boolean =
      try isCorrelatedSub(s2, sub0)
      catch { case _: Engine.UnknownColumn => false }
    // distinct prefix: the OUTER df may already carry a top-level
    // desugared __graft_sc0 frame, and a nested conjunct that also
    // references the outer scope lands in the semi-join condition —
    // a same-named alias on both sides would be AMBIGUOUS_REFERENCE
    // (review finding)
    val subA = sub0.copy(where = sub0.where.map(w =>
      rewriteScalarSubs(w, corrToSub, { s2 =>
        val (tn, aggDf, join, repl) = scalarJoin(s2, sub0,
          nestedJoins.size, namePrefix = "__graft_nsc")
        nestedJoins :+= ((tn, aggDf, join.on))
        repl
      })))
    // r12: one level OUTWARD — a scalar correlated to the ENCLOSING
    // query's scope joins its aggregated frame onto the OUTER side of
    // the semi/anti join; the replacement field then rides the join
    // condition as an outer reference (ANSI NULL semantics fall out
    // of the left join: an empty correlated group leaves the scalar
    // NULL, the comparison NULL, the row unmatched), and the hidden
    // columns are dropped after the left-side-only semi/anti join so
    // the outer schema is restored. Scalars correlated to a scope
    // past the enclosing query, or mixing scopes, still reject below.
    var outerJoins = Vector.empty[(String, DataFrame, Expr)]
    def corrToOuter(s2: SelectStmt): Boolean =
      try isCorrelatedSub(s2, outerSel)
      catch { case _: Engine.UnknownColumn => false }
    val sub = subA.copy(where = subA.where.map(w =>
      rewriteScalarSubs(w, corrToOuter, { s2 =>
        val (tn, aggDf, join, repl) = scalarJoin(s2, outerSel,
          outerJoins.size, namePrefix = "__graft_osc")
        outerJoins :+= ((tn, aggDf, join.on))
        repl
      })))
    val outerSel2 =
      if (outerJoins.isEmpty) outerSel
      else outerSel.copy(ansiJoins = outerSel.ansiJoins ++
        outerJoins.map { case (tn, _, on) =>
          AnsiJoin(tn, None, "left", on, generated = true) })
    val dfOut = outerJoins.foldLeft(df) { case (f, (tn, aggDf, on)) =>
      f.join(aggDf.as(tn), ExprBuilder.build(on, outerCtx), "left") }
    // r13 (verdict task 1): [NOT] IN/EXISTS conjuncts NESTED inside
    // the correlated subquery — TPC-H q20's IN-inside-IN shape. Each
    // is peeled off the subquery's WHERE and applied to the INNER
    // scan as its own semi/anti join: uncorrelated ones exactly like
    // the top-level path, ones correlated to the subquery's own scope
    // via one more recursive desugar level. Never a re-execution per
    // outer row. A nested subquery reaching the OUTERMOST scope would
    // need correlation threading through two join levels — still
    // rejected by name below.
    val subConjAll = sub.where.map(conjuncts).getOrElse(Seq.empty).map {
      case UnOp("not", ExistsSel(s2, n)) => ExistsSel(s2, !n)
      case other => other
    }
    val (nestedSubPreds, plainConj) = subConjAll.partition(e =>
      e.isInstanceOf[InSelect] || e.isInstanceOf[ExistsSel])
    val sub2 =
      if (nestedSubPreds.isEmpty) sub
      else sub.copy(where = plainConj.reduceOption(BinOp("and", _, _)))
    val sc = new CorrScope(sub2, outerSel2,
      extraInner = nestedJoins.map(_._1.toLowerCase).toSet)
    sc.requirePlainShape("correlated subquery")
    val (corr, local) = sc.splitWhere()
    val mergedCtx: ExprBuilder.Ctx = outerCtx ++ sc.innerCtxQualified
    val innerBase =
      if (nestedJoins.isEmpty) None
      else Some(nestedJoins.foldLeft(sc.innerScan) {
        case (f, (tn, aggDf, on)) =>
          f.join(aggDf.as(tn), ExprBuilder.build(on, sc.innerCtx), "left")
      })
    val inner0 = sc.innerFrame(local, innerBase)
    val inner = nestedSubPreds.foldLeft(inner0) { (f, pred) =>
      val (probeN, subN) = pred match {
        case InSelect(x, s2, _) => (Some(x), s2)
        case ExistsSel(s2, _) => (None, s2)
        case other => sys.error(s"unreachable sub-predicate $other")
      }
      // deep scan (advice finding): qualified AND unqualified refs,
      // recursing into still-deeper subqueries — an unqualified
      // outermost-scope column, or one buried a level further down,
      // must hit the named rejection here, not die later as a
      // misleading unknown-column error. A name is an outermost
      // reference when no scope between it and the outermost query
      // (the nested sub's own tables, any deeper sub's tables, or
      // the enclosing correlated sub's tables) resolves it but the
      // outermost query's tables do.
      val nestedAliases = deepAliases(subN)
      val nestedCols = deepCols(subN)
      lazy val outermostCols: Set[String] =
        (outerSel2.from.toSeq ++ outerSel2.joins.map(_.typeName) ++
          outerSel2.ansiJoins.filterNot(_.generated).map(_.table))
          .flatMap(t => tryColsOf(t).getOrElse(Set.empty)).toSet
      val reachesOutermost =
        (subN.where.toSeq.flatMap(deepFields) ++
          probeN.toSeq.flatMap(deepFields))
          .exists(f => f.qualifier match {
            case Some(q) =>
              val ql = q.toLowerCase
              !nestedAliases(ql) && sc.outers(ql)
            case None =>
              val n = f.name.toLowerCase
              !nestedCols(n) && !sc.innerCols(n) && outermostCols(n)
          })
      if (reachesOutermost)
        throw new IllegalArgumentException(
          "a subquery nested inside a correlated subquery may " +
            "correlate to that subquery's own scope or be " +
            "uncorrelated; correlating past it to the outermost " +
            "query is not supported")
      applySubPred(f, pred, sub2, sc.innerCtx)
    }
    val probeCond = probe.map { x =>
      val item = sub.items match {
        case Seq(it) if !it.expr.isInstanceOf[Star] => it.expr
        case _ => throw new IllegalArgumentException(
          "IN subquery must return exactly one column")
      }
      val p = sc.qualify(x, preferInner = false)
      val it = sc.qualify(item, preferInner = true)
      val eq: Expr = BinOp("=", p, it)
      if (neg) // ANSI 3VL blanking (see Scaladoc)
        BinOp("or", BinOp("or", eq, IsNull(p, negated = false)),
          IsNull(it, negated = false))
      else eq
    }
    val cond = (probeCond.toSeq ++
        corr.map(sc.qualify(_, preferInner = true)))
      .reduceOption(BinOp("and", _, _))
      .map(c => ExprBuilder.build(c, mergedCtx))
      .getOrElse(lit(true))
    val joined =
      dfOut.join(inner, cond, if (neg) "left_anti" else "left_semi")
    // drop the outer-joined scalar frames' hidden columns — the
    // semi/anti join keeps only left-side columns, so this restores
    // the caller's outer schema exactly
    outerJoins.foldLeft(joined) { case (f, (tn, aggDf, _)) =>
      aggDf.columns.foldLeft(f)((g, c) => g.drop(col(s"$tn.$c")))
    }
  }

  /** Desugar ONE correlated scalar-aggregate subquery —
    * `(SELECT agg(x) FROM t WHERE t.k = outer.k [AND local])` in a
    * select item or WHERE comparison — into an aggregated LEFT join:
    * the inner groups ONCE by its correlation keys (map-side combined
    * at any scale), the outer left-joins on those keys, and the
    * subquery node is replaced by a reference to the joined column
    * (coalesced to 0 for count, per ANSI empty-group semantics;
    * other aggregates stay NULL on no-match). Never a per-outer-row
    * re-execution. Correlation conjuncts must be equalities with one
    * operand per scope. Returns (bindName, aggregated frame, LEFT
    * AnsiJoin, replacement expr). */
  private def scalarJoin(sub: SelectStmt, outerSel: SelectStmt,
      idx: Int, inHaving: Boolean = false,
      namePrefix: String = "__graft_sc")
      : (String, DataFrame, AnsiJoin, Expr) = {
    val sc = new CorrScope(sub, outerSel)
    sc.requirePlainShape("correlated scalar subquery",
      allowGroupBy = true)
    val aggFns = Set("count", "sum", "min", "max", "avg", "average")
    val item0 = sub.items match {
      case Seq(it) => it.expr
      case _ => throw new IllegalArgumentException(
        "scalar subquery must return one column")
    }
    // The item may wrap the aggregate in arithmetic over constants —
    // TPC-H q17/q20's `0.2 * avg(l_quantity)` (r13). Exactly one
    // aggregate call; the wrapper is re-applied to the joined column
    // at the OUTER level, so empty-group semantics (count → 0 via
    // coalesce, others NULL) stay ANSI-exact under the wrapper.
    def findAggs(e: Expr): Seq[FnCall] = e match {
      case f @ FnCall(n, _) if aggFns(n.toLowerCase) => Seq(f)
      case BinOp(_, l, r) => findAggs(l) ++ findAggs(r)
      case UnOp(_, x) => findAggs(x)
      case FnCall(_, args) => args.flatMap(findAggs)
      case CaseExpr(bs, o) =>
        bs.flatMap(b => findAggs(b._1) ++ findAggs(b._2)) ++
          o.toSeq.flatMap(findAggs)
      case _ => Seq.empty
    }
    val aggs = findAggs(item0)
    if (aggs.size != 1)
      throw new IllegalArgumentException(
        "correlated scalar subquery must SELECT a single aggregate " +
          "(count/sum/min/max/avg), optionally wrapped in arithmetic " +
          "over constants")
    val aggNode = aggs.head
    def replaceAgg(e: Expr, withE: Expr): Expr = e match {
      case f: FnCall if f eq aggNode => withE
      case BinOp(o, l, r) =>
        BinOp(o, replaceAgg(l, withE), replaceAgg(r, withE))
      case UnOp(o, x) => UnOp(o, replaceAgg(x, withE))
      case FnCall(n, args) => FnCall(n, args.map(replaceAgg(_, withE)))
      case CaseExpr(bs, o) => CaseExpr(
        bs.map(b => (replaceAgg(b._1, withE), replaceAgg(b._2, withE))),
        o.map(replaceAgg(_, withE)))
      case other => other
    }
    if (fieldsOf(replaceAgg(item0, Lit(0L, "uint"))).nonEmpty)
      throw new IllegalArgumentException(
        "the expression around a correlated scalar subquery's " +
          "aggregate may only use constants")
    val (aggName, aggArgs) = (aggNode.name.toLowerCase, aggNode.args)
    val (corr, local) = sc.splitWhere()
    val keys = corr.map {
      case BinOp("=", a, b) =>
        val aOut = fieldsOf(a).exists(sc.isOuter)
        val bOut = fieldsOf(b).exists(sc.isOuter)
        val (inn, out) =
          if (aOut && !bOut) (b, a)
          else if (bOut && !aOut) (a, b)
          else throw new IllegalArgumentException(
            "scalar-subquery correlation must be <inner expr> = " +
              "<outer expr>")
        if (fieldsOf(out).exists(f => !sc.isOuter(f)))
          throw new IllegalArgumentException(
            "scalar-subquery correlation must not mix scopes in one " +
              "operand")
        (inn, out)
      case _ => throw new IllegalArgumentException(
        "scalar-subquery correlation conjuncts must be equalities")
    }
    // inside HAVING the joined scalar column is referenced from
    // within the aggregation, where only grouping columns are legal
    // correlation anchors (ANSI; DuckDB enforces the same) — validate
    // so the failure names the rule instead of a resolver error
    if (inHaving) {
      val groupNames = outerSel.groupBy.collect {
        case f: Field => f.name.toLowerCase }.toSet
      keys.foreach { case (_, out) =>
        val bad = fieldsOf(out).filterNot(f =>
          groupNames(f.name.toLowerCase))
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            "a scalar subquery in HAVING must correlate on GROUP BY " +
              s"columns (not ${bad.map(_.name).mkString(", ")})")
      }
    }
    // GROUP BY inside the scalar (r13, verdict task 5): legal exactly
    // when it groups by correlation-key columns — the aggregated
    // frame already groups by them, so the clause is declarative
    // confirmation, not a plan change. Any other key set could yield
    // more than one row per outer row, which a scalar cannot be.
    if (sub.groupBy.nonEmpty) {
      val keyFields: Set[String] = keys.flatMap { case (inn, _) =>
        fieldsOf(inn).map(_.name.toLowerCase) }.toSet
      val bad = sub.groupBy.filterNot {
        case f: Field => keyFields(f.name.toLowerCase)
        case _ => false // expression keys are never correlation keys
      }
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          "a correlated scalar subquery may only GROUP BY its " +
            "correlation keys (not " + bad.map {
              case f: Field => f.name
              case e => e.toString
            }.mkString(", ") + ")")
    }
    val tn = s"$namePrefix$idx"
    def innerCol(e: Expr): Column =
      ExprBuilder.build(sc.qualify(e, preferInner = true), sc.innerCtx)
    def arg0: Expr = aggArgs.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"aggregate $aggName requires one argument"))
    val aggCol = aggName match {
      case "count" => aggArgs.headOption match {
        case None | Some(Star()) => count(lit(1))
        case Some(a) => count(innerCol(a))
      }
      case "sum" => sum(innerCol(arg0))
      case "min" => min(innerCol(arg0))
      case "max" => max(innerCol(arg0))
      case _ => avg(innerCol(arg0))
    }
    val keyCols = keys.zipWithIndex.map { case ((inn, _), i) =>
      innerCol(inn).as(s"__graft_k$i") }
    val aggDf = sc.innerFrame(local)
      .groupBy(keyCols: _*).agg(aggCol.as("__graft_v"))
    val onExpr = keys.zipWithIndex.map { case ((_, out), i) =>
      BinOp("=", sc.qualify(out, preferInner = false),
        Field(s"__graft_k$i", Some(tn))): Expr }
      .reduce(BinOp("and", _, _))
    val ref: Expr = Field("__graft_v", Some(tn))
    // In HAVING the reference must itself be an aggregate: the joined
    // value is constant per group (correlation on group keys, checked
    // above), so min() IS the value — and min(coalesce(v, 0)) equals
    // ANSI's COALESCE(count, 0) on empty groups. The constant wrapper
    // (if any) re-applies OUTSIDE: wrapper(min(v)) == min(wrapper(v))
    // is irrelevant — the value is per-group constant, and constants
    // around an aggregate are legal HAVING expressions.
    val refC: Expr =
      if (aggName == "count")
        FnCall("coalesce", Seq(ref, Lit(0L, "uint")))
      else ref
    val repl = replaceAgg(item0,
      if (inHaving) FnCall("min", Seq(refC)) else refC)
    (tn, aggDf, AnsiJoin(tn, None, "left", onExpr, generated = true),
      repl)
  }

  /** Rewrite every correlated scalar subquery in the select items and
    * WHERE into its aggregated-left-join form; returns the rewritten
    * statement plus the transient table bindings for the generated
    * aggregate frames. */
  private def desugarScalarJoins(sel: SelectStmt)
      : (SelectStmt, Map[String, DataFrame]) = {
    var binds = Map.empty[String, DataFrame]
    var joins = Vector.empty[AnsiJoin]
    // UnknownColumn from the classification propagates — the precise
    // typo'd-column error beats any downstream resolver failure
    def rw(e: Expr, inHaving: Boolean): Expr =
      rewriteScalarSubs(e, s2 => isCorrelatedSub(s2, sel), { s2 =>
        val (tn, df, join, repl) =
          scalarJoin(s2, sel, binds.size, inHaving)
        binds += tn -> df; joins :+= join; repl
      })
    if (sel.from.isEmpty) (sel, binds)
    else {
      val items2 = sel.items.map(it =>
        it.copy(expr = rw(it.expr, inHaving = false)))
      val where2 = sel.where.map(rw(_, inHaving = false))
      // HAVING evaluates inside the aggregation, so the joined scalar
      // column is re-referenced through an aggregate there (min of a
      // per-group constant — scalarJoin validates the correlation
      // anchors are GROUP BY columns and wraps the replacement)
      val having2 = sel.having.map(rw(_, inHaving = true))
      (sel.copy(items = items2, where = where2, having = having2,
        ansiJoins = sel.ansiJoins ++ joins), binds)
    }
  }

  private def buildSelectNoLimit(sel00: SelectStmt): DataFrame = {
    // Scalar subqueries first: uncorrelated ones are evaluated once
    // and inlined as literals; correlated ones desugar to aggregated
    // LEFT joins bound as transient tables — every later pass (stamp
    // rewrite, ctx typing, agg split) then sees a plain expression
    // tree over ordinary joined columns.
    val sel0 = sel00.copy(
      items = sel00.items.map(it =>
        it.copy(expr = substScalars(it.expr, Seq(sel00)))),
      where = sel00.where.map(substScalars(_, Seq(sel00))),
      having = sel00.having.map(substScalars(_, Seq(sel00))))
    val (sel1, binds) = desugarScalarJoins(sel0)
    if (binds.isEmpty) buildSelectCore(sel1)
    else {
      // the generated frames only need to resolve during plan
      // CONSTRUCTION (Datasets analyze eagerly), so the bindings are
      // scoped to this build and restored after
      val saved = cteBindings.get
      try { cteBindings.set(saved ++ binds); buildSelectCore(sel1) }
      finally cteBindings.set(saved)
    }
  }

  private def buildSelectCore(sel0: SelectStmt): DataFrame = {
    // Reference field keyword TIMESTAMP (nowdbsql.y `field ::=
    // TIMESTAMP`): on a stamped edge without a literal `timestamp`
    // column, the name resolves to the stamp column — same mapping
    // the legacy context INSERT applies on the way in.
    val sel = sel0.from match {
      case Some(t) if isStampedEdge(t) &&
          !columnsOf(t).exists(_.equalsIgnoreCase("timestamp")) =>
        val m: Map[String, Expr] = Map("timestamp" -> Field("stamp"))
        def rf(f: Field): Field =
          if (f.qualifier.isEmpty && f.name.equalsIgnoreCase("timestamp"))
            Field("stamp")
          else f
        sel0.copy(
          items = sel0.items.map(it =>
            it.copy(expr = substAliases(it.expr, m))),
          where = sel0.where.map(substAliases(_, m)),
          having = sel0.having.map(substAliases(_, m)),
          groupBy = sel0.groupBy.map {
            case f: Field => rf(f)
            case e => substAliases(e, m)
          },
          orderBy = sel0.orderBy.map { case (f, a) => (rf(f), a) })
      case _ => sel0
    }
    // SELECT without FROM: one constant row (stmt.c:1398-1463)
    if (sel.from.isEmpty) {
      val cols = sel.items.zipWithIndex.map { case (it, i) =>
        ExprBuilder.build(it.expr)
          .as(it.alias.getOrElse(defaultName(it.expr, i)))
      }
      // ONE slice (not defaultParallelism) — a constant row needs one task
      return spark.range(0, 1, 1, 1).select(cols: _*)
    }
    val s = current
    val fromName = sel.from.get
    val fromAlias = sel.fromAlias.getOrElse(fromName)
    var df = tableDf(fromName).as(fromAlias)
    // SAMPLE (sql.tex:2127 absent-triple): deterministic hash-mod
    // sample of the base scan, applied BEFORE joins/WHERE — the
    // Knuth multiplicative filter (TextAnalysis.hashSample) keyed on
    // an integer column, so the kept set is stable across runs,
    // partitionings and engines (DuckDB replays the same arithmetic;
    // Spark's .sample is partition-layout-dependent and would never
    // oracle-match). At scale this is a codegen'd scan filter: no
    // shuffle, no RNG, and the pct survives column pruning.
    sel.sample.foreach { case (pct, keyOpt) =>
      val keyName = keyOpt match {
        case Some(f) =>
          f.qualifier.foreach { q =>
            if (!q.equalsIgnoreCase(fromAlias))
              throw new IllegalArgumentException(
                s"SAMPLE ON ${q}.${f.name}: the sample key must " +
                  s"belong to the base FROM table ($fromAlias)")
          }
          df.schema.fields.find(_.name.equalsIgnoreCase(f.name))
            .getOrElse(throw new IllegalArgumentException(
              s"SAMPLE ON ${f.name}: no such column in $fromName"))
            .name
        case None => df.schema.fields.head.name
      }
      val keyField = df.schema.fields
        .find(_.name.equalsIgnoreCase(keyName)).get
      import org.apache.spark.sql.types._
      keyField.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"SAMPLE needs an integer key column, but " +
            s"$keyName is ${other.simpleString} — name one with " +
            "SAMPLE <pct> ON <column>")
      }
      df = df.filter(
        pmod(col(s"$fromAlias.$keyName") * lit(2654435761L),
          lit(100L)) < lit(pct))
    }
    // one source of truth with tagTimeItems' typing pass
    val ctx: Map[String, String] = selectCtx(sel)

    // edge-joins (sql.tex:2291-2368): inner equi-join edge.origin|destin
    // against the vertex type's pk; broadcast the vertex side — the
    // dimension is small relative to the edge time-series.
    sel.joins.foreach { j =>
      val sc = scope
      val vt = sc.types.getOrElse(j.typeName,
        throw new IllegalArgumentException(s"unknown type ${j.typeName}"))
      val vAlias = j.alias.getOrElse(j.typeName)
      val vdf = tableDf(j.typeName).as(vAlias)
      df = df.join(broadcast(vdf),
        col(s"$fromAlias.${j.onField}") === col(s"$vAlias.${vt.pk.name}"),
        "inner")
    }

    // ANSI joins (superset): arbitrary ON condition, declared order.
    // Both sides shuffle on the condition's equi-keys (Catalyst
    // extracts them); no broadcast hint here — the joined side may be
    // another fact table, and AQE picks broadcast when it fits.
    sel.ansiJoins.foreach { aj =>
      val aAlias = aj.alias.getOrElse(aj.table)
      val adf = tableDf(aj.table).as(aAlias)
      df = df.join(adf, ExprBuilder.build(aj.on, ctx), aj.kind)
    }

    // [NOT] IN (SELECT …) and [NOT] EXISTS (SELECT …): peel the
    // top-level AND conjuncts; each plans as a left-semi/left-anti
    // join (the 100 TB shape — both sides shuffle on the key, nothing
    // collects, NEVER a per-row re-execution). Correlated forms
    // desugar their correlation conjuncts into the join condition.
    // Anywhere deeper in the boolean tree it cannot be a join, so
    // reject with a clear message.
    val allConj = sel.where.map(conjuncts).getOrElse(Seq.empty).map {
      // NOT EXISTS parses as UnOp over the predicate — normalize so
      // it partitions as a sub-predicate conjunct
      case UnOp("not", ExistsSel(s2, n)) => ExistsSel(s2, !n)
      case other => other
    }
    val (subPreds, residualConj) = allConj.partition(e =>
      e.isInstanceOf[InSelect] || e.isInstanceOf[ExistsSel])
    if (residualConj.exists(containsInSelect))
      throw new IllegalArgumentException(
        "IN/EXISTS (SELECT ...) must be a top-level AND conjunct of WHERE")
    subPreds.foreach { p => df = applySubPred(df, p, sel, ctx) }
    val residualWhere = residualConj.reduceOption(BinOp("and", _, _))
    val where = residualWhere.map(w => ExprBuilder.build(w, ctx))
    val filtered0 = where.fold(df)(df.filter)
    // period pruning (reference expr_period, fun/expr.c:1578-1631):
    // extract the [start,end] stamp bounds from the WHERE conjunction
    // and add the equivalent stamp_date partition predicate. The frame
    // build above already listed every day directory; this predicate
    // makes scan planning skip the files of days outside the range.
    val filtered =
      if (isStampedEdge(fromName) && residualWhere.isDefined
          && df.columns.contains("stamp_date"))
        stampPeriod(residualWhere.get) match {
          case Some((lo, hi)) =>
            var f = filtered0
            if (lo != Long.MinValue)
              f = f.filter(col("stamp_date") >= lit(nsToDate(lo)))
            if (hi != Long.MaxValue)
              f = f.filter(col("stamp_date") <= lit(nsToDate(hi)))
            f
          case None => filtered0
        }
      else filtered0

    // star expansion: model order, edge fields first (plan.c:1216+)
    def starCols: Seq[Column] = {
      val base = current match {
        case Some(sc) if sc.resolve(fromName).isDefined =>
          sc.propsOf(fromName).map(p => col(s"$fromAlias.${p.name}"))
        case _ => columnsOf(fromName)
          .map(c => col(s"$fromAlias.$c"))
      }
      base ++ sel.joins.flatMap { j =>
        val vAlias = j.alias.getOrElse(j.typeName)
        scope.types(j.typeName).props.map(p => col(s"$vAlias.${p.name}"))
      } ++ sel.ansiJoins.flatMap { aj =>
        // the hidden joins desugarScalarJoins appends carry internal
        // __graft_k*/__graft_v columns — SELECT * must not leak them.
        // Keyed off the explicit `generated` flag, not the table-name
        // prefix: a user table that happened to be named __graft_sc*
        // must keep its columns (review finding).
        if (aj.generated) Seq.empty
        else {
          val aAlias = aj.alias.getOrElse(aj.table)
          columnsOf(aj.table).map(c => col(s"$aAlias.$c"))
        }
      }
    }

    val hasAgg = sel.items.exists(it => containsAgg(it.expr))
    if (sel.groupBy.nonEmpty || hasAgg) {
      // select aliases — for HAVING resolution and (r13) GROUP BY
      // alias resolution
      val aliasMap = sel.items
        .flatMap(it => it.alias.map(_.toLowerCase -> it.expr)).toMap
      // r13: group keys are full EXPRESSIONS. Each resolves to
      // (key expr, output name): a bare name that is NOT a base
      // column but IS a select alias groups by the aliased
      // expression under the alias's name (ANSI-style resolution —
      // base columns win the clash); any other expression takes the
      // name of the select item it syntactically equals (so that
      // item projects AS the key), or a hidden name when the key is
      // grouped but not projected.
      // ANSI base-column-wins needs the ACTUAL column set of every
      // table in scope — typeCtx membership is kind-limited
      // (kindsFromSchema omits decimal/timestamp/date/array), so a
      // select alias colliding with e.g. a DECIMAL base column would
      // wrongly shadow it (advice finding)
      val baseColNames: Set[String] = {
        val ts = if (isStampedEdge(fromName)) Set("timestamp")
                 else Set.empty[String]
        tryColsOf(fromName).getOrElse(Set.empty) ++ ts ++
          sel.joins.flatMap(j =>
            scope.types(j.typeName).props.map(_.name.toLowerCase)) ++
          sel.ansiJoins.filterNot(_.generated)
            .flatMap(aj => tryColsOf(aj.table).getOrElse(Set.empty))
      }
      val keySpecs: Seq[(Expr, String)] =
        sel.groupBy.zipWithIndex.map {
          case (f: Field, _) if f.qualifier.isEmpty &&
              !baseColNames(f.name.toLowerCase) &&
              aliasMap.contains(f.name.toLowerCase) =>
            val e = aliasMap(f.name.toLowerCase)
            if (containsAgg(e))
              throw new IllegalArgumentException(
                s"GROUP BY ${f.name}: cannot group by an aggregate")
            (e, f.name)
          case (f: Field, _) => (f, f.name)
          case (e, i) =>
            sel.items.zipWithIndex.find(_._1.expr == e) match {
              case Some((it, j)) =>
                (e, it.alias.getOrElse(defaultName(e, j)))
              case None => (e, s"__graft_gk$i")
            }
        }
      val keys = keySpecs.map {
        // plain-field keys keep the bare attribute (an alias here
        // would break ROLLUP/CUBE's grouping() resolution); only
        // alias/expression keys need the explicit output name
        case (f: Field, _) => ExprBuilder.build(f, ctx)
        case (e, n) => ExprBuilder.build(e, ctx).as(n)
      }
      val keyNames = keySpecs.collect {
        case (f: Field, n) => n.toLowerCase }.toSet
      // expression keys, matched against select items syntactically
      val keyByExpr: Map[Expr, String] =
        keySpecs.filterNot(_._1.isInstanceOf[Field]).toMap
      // an aggregate/any_value item whose output name equals a KEY's
      // name (`select sum(id) as amt … group by amt`, legal ANSI)
      // would leave two same-named columns in the aggregated frame —
      // give it a hidden physical name and restore the declared name
      // in the final projection (r14 review finding)
      val aggPhysName = mutable.Map.empty[Int, String]
      def physName(i: Int, nm: String): String =
        if (keyNames(nm.toLowerCase)) {
          val h = s"__graft_ac$i"; aggPhysName(i) = h; h
        } else nm
      val aggCols = sel.items.zipWithIndex.flatMap { case (it, i) =>
        val nm = it.alias.getOrElse(defaultName(it.expr, i))
        it.expr match {
          case f: Field if keyNames(f.name.toLowerCase) => None // key
          case e if keyByExpr.contains(e) => None // expression key
          // a bare literal is constant — project it AFTER the
          // aggregation (any_value over an EMPTY ungrouped input
          // would turn `select 'tag', count(*)` into (NULL, 0); ANSI
          // and DuckDB keep the constant)
          case _: Lit => None
          case e if containsAgg(e) =>
            Some(buildWithAggs(e, ctx).as(physName(i, nm)))
          case e => // non-agg non-key: "any row's value" (sql.tex:2690)
            Some(any_value(ExprBuilder.build(e, ctx)).as(physName(i, nm)))
        }
      }
      // HAVING resolution: inline select aliases first (`having q > 5`
      // → `having sum(x) > 5`), then route by shape — predicates over
      // aggregates (projected or not: `having sum(a) >= 100` with no
      // sum(a) in the select list is legal SQL) evaluate INSIDE the
      // aggregation as a hidden boolean column; key-only predicates
      // filter the projected output.
      val havingRes = sel.having.map(substAliases(_, aliasMap))
      val (aggHaving, keyHaving) = havingRes match {
        case Some(h) if containsAgg(h) => (Some(h), None)
        case other => (None, other)
      }
      val hvCol = aggHaving.map(h =>
        buildWithAggs(h, ctx).as("__graft_having"))
      // GROUP BY with no aggregates = distinct keys (the reference's
      // KRANGE keys-only fast path, plan.c:1635-1644) — unless an
      // aggregate HAVING forces a real aggregation anyway, and never
      // for ROLLUP/CUBE (their subtotal rows aren't a distinct set)
      if (aggCols.isEmpty && hvCol.isEmpty && sel.groupMode == "plain") {
        val d0 = filtered.select(keySpecs.map { case (e, n) =>
          ExprBuilder.build(e, ctx).as(n) }: _*).distinct()
        val d = keyHaving.fold(d0)(h => d0.filter(ExprBuilder.build(h)))
        // the fast path must not silently drop ORDER BY either
        // (fuzz-found sibling of the dropped-HAVING defect)
        return if (sel.orderBy.nonEmpty)
          d.orderBy(orderCols(sel.orderBy): _*)
        else d
      }
      // ROLLUP/CUBE with no aggregate select items (e.g. `select a, b
      // from t group by rollup(a, b)`) bypasses the distinct-keys fast
      // path above but still needs something to aggregate — inject a
      // hidden count (dropped by the declared-item projection below)
      // so the legal dialect query returns the subtotal grid instead
      // of crashing on allAggs.head
      val allAggs0 = aggCols ++ hvCol
      val allAggs = if (allAggs0.nonEmpty) allAggs0
        else Seq(count(lit(1)).as("__graft_hidden_cnt"))
      val grouped =
        if (keys.nonEmpty) {
          val g = sel.groupMode match {
            case "rollup" => filtered.rollup(keys: _*)
            case "cube"   => filtered.cube(keys: _*)
            case _        => filtered.groupBy(keys: _*)
          }
          g.agg(allAggs.head, allAggs.tail: _*)
        } else filtered.agg(allAggs.head, allAggs.tail: _*)
      val groupedF = if (hvCol.isDefined)
        grouped.filter(col("__graft_having")) else grouped
      // project in declared item order (keys keep their names)
      val outCols = sel.items.zipWithIndex.map { case (it, i) =>
        it.expr match {
          case f: Field if keyNames(f.name.toLowerCase) =>
            col(f.name).as(it.alias.getOrElse(f.name))
          case e if keyByExpr.contains(e) => // expression key
            col(keyByExpr(e)).as(it.alias.getOrElse(keyByExpr(e)))
          case l: Lit => // constant, projected post-aggregation
            ExprBuilder.build(l, ctx)
              .as(it.alias.getOrElse(defaultName(l, i)))
          case e =>
            val nm = it.alias.getOrElse(defaultName(e, i))
            aggPhysName.get(i) match {
              case Some(h) => col(h).as(nm)
              case None => col(nm)
            }
        }
      }
      val out0 = groupedF.select(outCols: _*)
      val out = keyHaving.fold(out0)(h => out0.filter(ExprBuilder.build(h)))
      if (sel.orderBy.nonEmpty) out.orderBy(orderCols(sel.orderBy): _*)
      else out
    } else {
      val projected0 =
        if (sel.items.exists(_.expr.isInstanceOf[Star]))
          filtered.select(starCols: _*)
        else filtered.select(sel.items.zipWithIndex.map { case (it, i) =>
          ExprBuilder.build(it.expr, ctx)
            .as(it.alias.getOrElse(defaultName(it.expr, i)))
        }: _*)
      // SELECT DISTINCT (superset): dedup the projected rows before
      // any ORDER BY — standard semantics, and a plain hash agg
      val projected =
        if (sel.distinct) projected0.distinct() else projected0
      if (sel.orderBy.nonEmpty) {
        val outNames = projected.columns.map(_.toLowerCase).toSet
        if (sel.orderBy.forall(f => outNames(f._1.name.toLowerCase)))
          projected.orderBy(orderCols(sel.orderBy): _*)
        else if (sel.distinct)
          // ANSI: with DISTINCT, ORDER BY may only use selected
          // columns (ordering by a dropped column is ambiguous)
          throw new IllegalArgumentException(
            "ORDER BY with DISTINCT must reference selected columns")
        else { // order on base columns, then project
          val sorted = filtered.orderBy(sel.orderBy.map { case (f, a) =>
            val c = ExprBuilder.build(f, ctx); if (a) c.asc else c.desc
          }: _*)
          if (sel.items.exists(_.expr.isInstanceOf[Star]))
            sorted.select(starCols: _*)
          else sorted.select(sel.items.zipWithIndex.map { case (it, i) =>
            ExprBuilder.build(it.expr, ctx)
              .as(it.alias.getOrElse(defaultName(it.expr, i)))
          }: _*)
        }
      } else projected
    }
  }
}

object Engine {
  /** Depth cap for WITH RECURSIVE fixpoint evaluation. Generous —
    * real hierarchies are tens of levels, binary-key ancestor chains
    * log₂(n) — while still turning an unbounded recursive step into
    * a named error instead of a hang. */
  val maxRecursionRounds: Int = 1000

  /** A name provably resolving in neither the subquery's nor the
    * enclosing scope (a typo'd column). Distinct type so multi-scope
    * classification can fail one scope without masking another. */
  private[engine] final class UnknownColumn(msg: String)
      extends IllegalArgumentException(msg)

  /** Non-reentrant session-scoped RW lock: the reference's locks
    * belong to sessions (scope/ipc.c), not threads, so a second
    * Engine on the same thread must still block — Java's reentrant
    * locks would let it through. */
  final class SessionRWLock {
    private var readers = 0
    private var writer = false
    def tryAcquire(write: Boolean, timeoutMs: Long): Boolean =
      synchronized {
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        def ready = if (write) !writer && readers == 0 else !writer
        while (!ready) {
          val waitMs = (deadline - System.nanoTime()) / 1000000L
          if (waitMs <= 0) return false
          wait(waitMs)
        }
        if (write) writer = true else readers += 1
        true
      }
    def acquire(write: Boolean): Unit = synchronized {
      def ready = if (write) !writer && readers == 0 else !writer
      while (!ready) wait()
      if (write) writer = true else readers += 1
    }
    def release(write: Boolean): Unit = synchronized {
      if (write) writer = false else readers -= 1
      notifyAll()
    }
  }

  /** Cross-session lock registry (reference scope/ipc.c — advisory
    * RW locks shared by sessions of one process). */
  private val lockRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, SessionRWLock]()
}
