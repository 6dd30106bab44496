package graft.catalog

import java.nio.file.{Files, Paths, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types._

/** Scope catalog: the model (vertex types, edges), storages, indexes,
  * procedures, locks — NoWDB's `scope` (reference scope/scope.h:33-48,
  * model/model.c). Persisted as one TSV per scope under
  * `<root>/<scope>/catalog.tsv`; table data lives at
  * `<root>/<scope>/tables/<table>` as parquet.
  *
  * Type mapping (SURVEY §1.2): text→String, float→Double,
  * int/uint→Long, time/date→Long (ns stamp — exact ns, see §7.3),
  * bool→Boolean.
  */
object Catalog {

  case class Prop(name: String, typ: String, pk: Boolean, stamp: Boolean)
  case class VertexType(name: String, props: Seq[Prop]) {
    def pk: Prop = props.find(_.pk).getOrElse(
      throw new IllegalStateException(s"type $name has no pk"))
  }
  case class EdgeType(name: String, origin: String, destin: String,
                      stamped: Boolean, payload: Seq[Prop]) {
    /** Full column list in model order. */
    def props: Seq[Prop] =
      Seq(Prop("origin", "uint", pk = false, stamp = false),
        Prop("destin", "uint", pk = false, stamp = false)) ++
        (if (stamped) Seq(Prop("stamp", "time", pk = false, stamp = true))
         else Nil) ++ payload
  }
  case class IndexDef(name: String, on: String, fields: Seq[String])
  case class ProcDef(module: String, name: String,
                     args: Seq[(String, String)], lang: String)
  case class StorageDef(name: String, options: Map[String, String])

  def sparkType(nowTyp: String): DataType = nowTyp match {
    case "text" | "longtext" => StringType
    case "float" => DoubleType
    case "int" | "uint" => LongType
    case "time" | "date" => LongType // ns stamp
    case "bool" => BooleanType
    case t => throw new IllegalArgumentException(s"unknown type $t")
  }

  /** Spark schema of a model. Time/date fields carry a `graft.nowType`
    * METADATA marker: ns stamps are plain longs in Spark, and the marker
    * is what lets the binary wire mode frame them with the reference's
    * TIME tag instead of INT (Wire.respondBinary). Metadata rides
    * attribute references through projections/aliases, so plain
    * `select stamp` keeps it. */
  def schemaOf(props: Seq[Prop]): StructType =
    StructType(props.map { p =>
      val md = new MetadataBuilder()
      if (p.typ == "time" || p.typ == "date")
        md.putString("graft.nowType", p.typ)
      StructField(p.name, sparkType(p.typ), nullable = !p.pk, md.build())
    })

  /** One scope's metadata; mutable, flushed to TSV on every DDL. */
  class Scope(val name: String, val dir: Path) {
    val types = mutable.LinkedHashMap.empty[String, VertexType]
    val edges = mutable.LinkedHashMap.empty[String, EdgeType]
    val indexes = mutable.LinkedHashMap.empty[String, IndexDef]
    val procs = mutable.LinkedHashMap.empty[String, ProcDef]
    val storages = mutable.LinkedHashMap.empty[String, StorageDef]
    val locks = mutable.LinkedHashSet.empty[String]
    /** name → stored SELECT text (superset feature; base64-persisted
      * so arbitrary SQL survives the TSV line format). */
    val views = mutable.LinkedHashMap.empty[String, String]

    /** A table's root directory (holds versioned snapshots). */
    def tableRoot(table: String): Path =
      dir.resolve("tables").resolve(table)

    /** Live snapshot version, if the table uses the versioned layout.
      * Absent marker = legacy v0 layout (data directly in the root). */
    def currentVersion(table: String): Option[Long] = {
      val f = tableRoot(table).resolve("_version")
      if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
    }

    /** Data directory of the CURRENT snapshot. Copy-on-write rewrites
      * (UPDATE/DELETE/CREATE INDEX) materialize a `v<k+1>` subdir and
      * atomically flip the `_version` marker — a reader that resolved
      * its snapshot keeps reading those files while the flip happens,
      * so scans get snapshot isolation without read locks (the
      * previous snapshot is retained one generation before GC). */
    def tableDir(table: String): Path = currentVersion(table) match {
      case Some(v) => tableRoot(table).resolve(s"v$v")
      case None => tableRoot(table)
    }

    /** Case-insensitive table resolution → (kind, canonical name). */
    def resolve(table: String): Option[(String, String)] = {
      val t = table.toLowerCase
      types.keys.find(_.toLowerCase == t).map(("type", _))
        .orElse(edges.keys.find(_.toLowerCase == t).map(("edge", _)))
    }

    def propsOf(table: String): Seq[Prop] = resolve(table) match {
      case Some(("type", n)) => types(n).props
      case Some(("edge", n)) => edges(n).props
      case _ => throw new IllegalArgumentException(s"unknown table $table")
    }

    def save(): Unit = {
      Files.createDirectories(dir)
      val sb = new StringBuilder
      types.values.foreach { t =>
        t.props.foreach { p =>
          sb ++= s"type\t${t.name}\t${p.name}\t${p.typ}\t${p.pk}\t${p.stamp}\n"
        }
      }
      edges.values.foreach { e =>
        sb ++= s"edgedef\t${e.name}\t${e.origin}\t${e.destin}\t${e.stamped}\n"
        e.payload.foreach { p =>
          sb ++= s"edgeprop\t${e.name}\t${p.name}\t${p.typ}\n"
        }
      }
      indexes.values.foreach(ix =>
        sb ++= s"index\t${ix.name}\t${ix.on}\t${ix.fields.mkString(",")}\n")
      procs.values.foreach(pr =>
        sb ++= s"proc\t${pr.module}\t${pr.name}\t${pr.lang}\t" +
          pr.args.map(a => s"${a._1}:${a._2}").mkString(",") + "\n")
      storages.values.foreach(st =>
        sb ++= s"storage\t${st.name}\t" +
          st.options.map(kv => s"${kv._1}=${kv._2}").mkString(",") + "\n")
      locks.foreach(l => sb ++= s"lock\t$l\n")
      views.foreach { case (n, sql) =>
        val b64 = java.util.Base64.getEncoder.encodeToString(
          sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        sb ++= s"view\t$n\t$b64\n"
      }
      Files.writeString(dir.resolve("catalog.tsv"), sb.toString)
    }

    def load(): Unit = {
      val f = dir.resolve("catalog.tsv")
      if (!Files.exists(f)) return
      val typeProps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Prop]]
      Files.readAllLines(f).asScala.filter(_.nonEmpty).foreach { line =>
        val parts = line.split("\t", -1)
        parts(0) match {
          case "type" =>
            typeProps.getOrElseUpdate(parts(1), mutable.ArrayBuffer.empty) +=
              Prop(parts(2), parts(3), parts(4).toBoolean, parts(5).toBoolean)
          case "edgedef" =>
            edges += parts(1) -> EdgeType(parts(1), parts(2), parts(3),
              parts(4).toBoolean, Seq.empty)
          case "edgeprop" =>
            val e = edges(parts(1))
            edges += parts(1) -> e.copy(payload = e.payload :+
              Prop(parts(2), parts(3), pk = false, stamp = false))
          case "index" =>
            indexes += parts(1) -> IndexDef(parts(1), parts(2),
              parts(3).split(",").toSeq)
          case "proc" =>
            val args = if (parts(4).isEmpty) Seq.empty[(String, String)]
              else parts(4).split(",").toSeq.map { a =>
                val Array(n, t) = a.split(":"); (n, t)
              }
            procs += parts(2) -> ProcDef(parts(1), parts(2), args, parts(3))
          case "storage" =>
            val opts = if (parts.length < 3 || parts(2).isEmpty)
              Map.empty[String, String]
            else parts(2).split(",").map { kv =>
              val Array(k, v) = kv.split("=", 2); (k, v)
            }.toMap
            storages += parts(1) -> StorageDef(parts(1), opts)
          case "lock" => locks += parts(1)
          case "view" =>
            views += parts(1) -> new String(
              java.util.Base64.getDecoder.decode(parts(2)),
              java.nio.charset.StandardCharsets.UTF_8)
          case other =>
            throw new IllegalStateException(s"bad catalog line: $other")
        }
      }
      typeProps.foreach { case (n, ps) => types += n -> VertexType(n, ps.toSeq) }
    }
  }

  def open(root: String, scope: String): Scope = {
    val s = new Scope(scope, Paths.get(root).resolve(scope))
    s.load()
    s
  }

  def exists(root: String, scope: String): Boolean =
    Files.exists(Paths.get(root).resolve(scope).resolve("catalog.tsv"))

  def drop(root: String, scope: String): Unit = {
    val dir = Paths.get(root).resolve(scope)
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }
}
