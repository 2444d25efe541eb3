package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import graft.kv.{KvCatalog, KvColumn, KvStore}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** SQL catalog plugin for graft-kv tables — the DDL surface the
  * reference never had (its `HbaseTableCatalog` is an option-JSON
  * parser, `/root/reference/src/main/scala/com/dm/hbase/spark3/datasource/HbaseTableCatalog.scala:49-78`,
  * so every query must inline the catalog and register a temp view).
  * With this plugin a session configures
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.KvSqlCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * and drives the store in plain SQL: `CREATE TABLE graft.ns.t (id
  * BIGINT, name STRING) TBLPROPERTIES ('rowkey'='id')`, `INSERT INTO`,
  * `SELECT` (full pushdown — the loaded table is the same [[KvTable]]
  * the path-based reader builds), `ALTER TABLE … ADD COLUMN` (schema
  * evolution: older shards read the new cell as NULL), `UPDATE` /
  * `MERGE` / `DELETE`, `SHOW TABLES`, `DROP TABLE`.
  *
  * Layout: `<warehouse>/<namespace>/<table>/` is the table directory
  * (shards + `_kvmeta.json`); the declared schema persists beside them
  * as `_kvcatalog.json` in the reference's own map-form catalog JSON, so
  * a path-based `spark.read.format("graft-kv")` can open a
  * catalog-created table by pasting that file as the `catalog` option.
  *
  * Column→cell binding at CREATE time: the rowkey column (table property
  * `rowkey`, default = first column) gets the `"rowkey"` pseudo-family;
  * every other column lands in family `"columns"` under its own name,
  * overridable per column with properties `cf.<col>` / `qualifier.<col>`
  * — the same binding vocabulary as the JSON shapes.
  *
  * DDL writes (create/alter/rename/drop) serialize on the table's
  * cross-process manifest lock where one exists; the catalog file itself
  * swaps atomically via temp-file rename, so concurrent readers see
  * either schema, never a torn file.
  */
class KvSqlCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"spark.sql.catalog.$name.warehouse (table root directory) is required")
    warehouse = if (w.startsWith("file:")) java.net.URI.create(w).getPath else w
    // the default namespace exists from birth, like every SQL catalog's
    new File(warehouse, defaultNamespace()(0)).mkdirs()
  }

  override def defaultNamespace(): Array[String] = Array("default")

  // ---- layout ----

  private def nsDir(namespace: Array[String]): File = {
    require(namespace.length == 1,
      s"graft namespaces are single-level, got ${namespace.mkString(".")}")
    new File(warehouse, namespace(0))
  }
  private def tableDir(ident: Identifier): File =
    new File(nsDir(ident.namespace()), ident.name())
  private def catalogFile(dir: File): File = new File(dir, "_kvcatalog.json")

  private def writeCatalogFile(dir: File, cat: KvCatalog): Unit =
    graft.util.Dirs.writeAtomic(catalogFile(dir), KvCatalog.render(cat).getBytes("UTF-8"))

  private def readCatalog(ident: Identifier): KvCatalog = {
    val f = catalogFile(tableDir(ident))
    if (!f.exists()) throw new NoSuchTableException(
      (catalogName +: ident.namespace() :+ ident.name()).toSeq)
    KvCatalog.parse(new String(Files.readAllBytes(f.toPath), "UTF-8"))
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!d.isDirectory) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    d.listFiles().toSeq.filter(t => catalogFile(t).exists())
      .map(t => Identifier.of(namespace, t.getName)).sortBy(_.name).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val cat = readCatalog(ident)
    new KvTable(cat, tableDir(ident).getPath)
  }

  /** SQL `VERSION AS OF v`: a table handle pinned to manifest version
    * `v` — resolved EAGERLY so a vacuumed/never-existed version fails at
    * analysis with the clear "unavailable" message, not mid-job. The
    * snapshot window is the vacuum grace period (superseded shard files
    * are retained on its clock) and [[KvStore.MaxArchivedManifests]]
    * commits of manifest history. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val cat = readCatalog(ident)
    val dir = tableDir(ident).getPath
    val v = try version.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-kv versions are manifest commit numbers; got '$version'")
    }
    KvStore.readMetaAsOf(dir, Some(v)) // eager availability check
    new KvTable(cat, dir, pinnedAsOf = Some(v))
  }

  /** SQL `TIMESTAMP AS OF t` (micros since epoch, per the connector
    * contract): resolves to the newest version committed at or before
    * `t` via the stamped manifest chain, then pins like `VERSION AS OF`. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val cat = readCatalog(ident)
    val dir = tableDir(ident).getPath
    val v = KvStore.versionAtTimestamp(dir, Math.floorDiv(timestampMicros, 1000L))
    new KvTable(cat, dir, pinnedAsOf = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft-kv tables are rowkey-range sharded; PARTITIONED BY is not supported")
    require(schema.fields.nonEmpty, "cannot create a zero-column table")
    val props = properties.asScala
    val rowkey = props.getOrElse(KvSqlCatalog.RowkeyProp, schema.fields.head.name)
    require(schema.fieldNames.contains(rowkey),
      s"table property '${KvSqlCatalog.RowkeyProp}'='$rowkey' names no declared column")
    val buckets = props.get(KvSqlCatalog.BucketsProp).map(_.trim.toInt).getOrElse(0)
    require(buckets >= 0 && buckets <= 4096,
      s"table property '${KvSqlCatalog.BucketsProp}' must be in [0, 4096], got $buckets")
    val columns = schema.fields.toSeq.map { f =>
      val isRk = f.name == rowkey
      val cf = if (isRk) KvCatalog.RowkeyCf
        else props.getOrElse(s"cf.${f.name}", "columns")
      require(isRk || cf != KvCatalog.RowkeyCf,
        s"column ${f.name}: family '${KvCatalog.RowkeyCf}' is reserved for the rowkey")
      val qual = props.getOrElse(s"qualifier.${f.name}", f.name)
      // normalizeType: SQL ARRAY<FLOAT>/MAP parse as nullable-element
      // variants of the (element-null-free) cell encodings
      KvColumn(f.name, cf, qual, KvCatalog.normalizeType(f.dataType))
    }
    columns.foreach(c => KvCatalog.typeString(c.dataType))
    val cat = KvCatalog(ident.namespace().headOption.getOrElse("default"),
      ident.name(), rowkey, columns, buckets)
    val dir = tableDir(ident)
    if (!nsDir(ident.namespace()).isDirectory) throw new NoSuchNamespaceException(
      (catalogName +: ident.namespace()).toSeq)
    // the existence check + catalog write are one atomic section: two
    // racing CREATEs must not both pass the check and then overwrite
    // each other's catalog file
    KvStore.withTableLock(dir.getPath) {
      if (catalogFile(dir).exists()) throw new TableAlreadyExistsException(
        (catalogName +: ident.namespace() :+ ident.name()).toSeq)
      dir.mkdirs()
      writeCatalogFile(dir, cat)
    }
    new KvTable(cat, dir.getPath)
  }

  /** ADD/DROP COLUMN = rewrite `_kvcatalog.json`; no data movement ever.
    * An added column simply has no cells in existing shards (reads as
    * NULL — the connector's schema-evolution contract); a dropped
    * column's cells stay in the shards and are skipped by every decoder
    * until compaction naturally rewrites them. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    val altered = KvStore.withTableLock(dir.getPath) {
      val cat = readCatalog(ident)
      val next = changes.foldLeft(cat)(applyChange(ident, _, _))
      require(next.columns.exists(_.name == next.rowkey),
        "cannot drop the rowkey column")
      writeCatalogFile(dir, next)
      next
    }
    new KvTable(altered, dir.getPath)
  }

  private def applyChange(ident: Identifier, cat: KvCatalog, change: TableChange): KvCatalog =
    change match {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft-kv columns are flat; nested ADD COLUMN is not supported")
        val n = add.fieldNames()(0)
        require(!cat.columns.exists(_.name == n), s"column $n already exists")
        KvCatalog.typeString(add.dataType()) // validate the cell encoding
        require(add.isNullable,
          s"added column $n must be nullable: existing rows have no cell for it")
        cat.copy(columns = cat.columns :+
          KvColumn(n, "columns", n, KvCatalog.normalizeType(add.dataType())))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested columns do not exist here")
        val n = del.fieldNames()(0)
        if (!cat.columns.exists(_.name == n)) {
          if (del.ifExists()) cat
          else throw new IllegalArgumentException(s"no such column: $n")
        } else {
          require(n != cat.rowkey, "cannot drop the rowkey column")
          cat.copy(columns = cat.columns.filterNot(_.name == n))
        }
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        cat // comment/owner-style metadata: nothing to persist for the engine
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE ${ident.name()}: unsupported change $other")
    }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!catalogFile(dir).exists()) return false
    // the delete sequence holds the table's manifest lock: a concurrent
    // writer commit could otherwise recreate _kvmeta.json / shard files
    // mid-delete, leaving an orphaned directory whose catalog file is
    // already gone (dir.delete() silently fails on non-empty)
    val dropped = KvStore.withTableLock(dir.getPath) {
      if (!catalogFile(dir).exists()) false
      else {
        // delete the catalog file FIRST: a concurrent loadTable then sees
        // a clean "no such table" instead of a half-deleted shard set
        catalogFile(dir).delete()
        dir.listFiles().foreach(_.delete())
        true
      }
    }
    // the lock file itself (recreated by taking the lock) and the dir go
    // last, outside the lock; delete() on a non-empty dir is a no-op, so
    // a racing recreate keeps its files
    new File(dir, "_kvlock").delete()
    dir.delete()
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!catalogFile(from).exists()) throw new NoSuchTableException(
      (catalogName +: oldIdent.namespace() :+ oldIdent.name()).toSeq)
    val to = tableDir(newIdent)
    if (catalogFile(to).exists()) throw new TableAlreadyExistsException(
      (catalogName +: newIdent.namespace() :+ newIdent.name()).toSeq)
    if (!nsDir(newIdent.namespace()).isDirectory) throw new NoSuchNamespaceException(
      (catalogName +: newIdent.namespace()).toSeq)
    KvStore.withTableLock(from.getPath) {
      val cat = readCatalog(oldIdent)
      writeCatalogFile(from, cat.copy(
        namespace = newIdent.namespace().head, table = newIdent.name()))
      Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  // ---- functions ----

  /** The catalog's one function: `bucket` ([[KvBucketFunction]]). Its
    * REAL consumer is not user SQL but Spark's storage-partitioned-join
    * machinery, which resolves the `bucket(n, rowkey)` transform a
    * bucketed scan reports through the table's function catalog with an
    * EMPTY-namespace identifier — so the empty namespace is accepted
    * alongside the default one. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !nsDir(namespace).isDirectory)
      throw new NoSuchNamespaceException((catalogName +: namespace).toSeq)
    Array(Identifier.of(namespace, KvBucketFunction.name()))
  }

  override def loadFunction(ident: Identifier): functions.UnboundFunction = {
    val nsOk = ident.namespace().isEmpty ||
      (ident.namespace().length == 1 && nsDir(ident.namespace()).isDirectory)
    if (nsOk && ident.name() == KvBucketFunction.name()) KvBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }

  // ---- procedures ----

  /** Maintenance procedures ([[KvProcedures]]): `CALL graft.system.
    * compact/vacuum/fsck/history(tbl => 'ns.name', …)`. Namespace-
    * agnostic (the conventional `system` namespace, the default one,
    * or none) — the table argument carries its own namespace. */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    KvProcedures.all(warehouse).getOrElse(ident.name(),
      throw new RuntimeException(
        s"no such procedure: ${(catalogName +: ident.namespace() :+ ident.name()).mkString(".")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    KvProcedures.all(warehouse).keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new File(warehouse)
    root.listFiles().toSeq.filter(_.isDirectory).map(d => Array(d.getName))
      .sortBy(_.head).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (nsDir(namespace).isDirectory) Array.empty // single-level: no children
    else throw new NoSuchNamespaceException((catalogName +: namespace).toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (nsDir(namespace).isDirectory) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException((catalogName +: namespace).toSeq)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    require(!d.isDirectory, s"namespace ${namespace.mkString(".")} already exists")
    d.mkdirs()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(namespace)
    if (!d.isDirectory) return false
    if (!cascade && d.listFiles().nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    graft.util.Dirs.rmrf(d)
    true
  }
}

object KvSqlCatalog {
  /** Table property naming the rowkey column; defaults to the first
    * declared column when absent. */
  val RowkeyProp = "rowkey"

  /** Table property setting the rowkey hash-bucket count (0/absent =
    * unbucketed); see [[graft.kv.KvCatalog]]'s `buckets` scaladoc. */
  val BucketsProp = "buckets"
}
