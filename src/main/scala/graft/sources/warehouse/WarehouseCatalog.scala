package graft.sources.warehouse

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{NoCommittedVersion, Warehouse}

/** SQL catalog for warehouse tables, registered centrally as `graft`
  * ([[graft.engine.Sessions]]), with TWO addressing planes:
  *
  * '''Path-addressed''' — the Delta-style form, zero registration
  * ceremony; the identifier IS the table path:
  * {{{
  *   SELECT * FROM graft.`/data/wh/events`                     -- newest
  *   SELECT * FROM graft.`/data/wh/events` VERSION AS OF 3     -- snapshot
  *   SELECT * FROM graft.`/data/wh/events` TIMESTAMP AS OF
  *     '2024-01-05 12:00:00'                                   -- as-of time
  * }}}
  *
  * '''Named''' — `graft.db.name`, the way a multi-team deployment
  * actually addresses tables (nobody carries physical paths at
  * 100 TB). Backed by a `_catalog` directory under the configured
  * `spark.sql.catalog.graft.warehouseRoot`: one small entry file per
  * table holding identifier → physical path + partition layout +
  * declared schema. The full DDL/DML plane works by name:
  * {{{
  *   CREATE TABLE graft.db.events (ev BIGINT, dt STRING)
  *     PARTITIONED BY (dt)                      -- registers; data on 1st insert
  *   CREATE TABLE graft.db.top AS SELECT …      -- CTAS
  *   INSERT INTO graft.db.events …              -- creates v1 / appends
  *   ALTER TABLE graft.db.events ADD COLUMN score BIGINT
  *   SELECT * FROM graft.db.events VERSION AS OF 1
  *   DROP TABLE graft.db.events                 -- entry + managed data
  * }}}
  * Entry creation is CREATE-EXCLUSIVE (racing CREATEs lose loudly,
  * like version commits); the data itself stays a plain warehouse
  * table at `<root>/<db>/<name>`, so the path plane, the merge API
  * and every maintenance procedure keep working on named tables.
  *
  * Either way the loaded table is the same [[WarehouseTable]] the
  * `graft-warehouse` read format serves — pushed-filter file
  * skipping, column pruning, reported statistics, the DML plane and
  * `CALL graft.system.*` all apply. `TIMESTAMP AS OF` resolves to the
  * newest commit at-or-before the instant ([[Warehouse.versionAt]] —
  * commit-file mtimes, the Delta convention).
  */
class WarehouseCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = "graft"
  private var warehouseRoot: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouseRoot = Option(options.get("warehouseRoot"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString("/")

  private def isPathIdent(ident: Identifier): Boolean =
    pathOf(ident).startsWith("/")

  // -------------------------------------------------------------
  // named-table entries: <root>/_catalog/<ns.ns.name>, lines
  // "path\t…", "partCols\tc1,c2", "schema\t<DDL>"
  // -------------------------------------------------------------

  private case class Entry(path: String, partCols: Seq[String],
                           schema: StructType,
                           props: Map[String, String] = Map.empty)

  /** The TBLPROPERTIES this catalog persists in its entries — only
    * keys the engine actually reads (everything else Spark passes in
    * `createTable`'s properties map — provider, location, owner — is
    * connector-internal noise and is deliberately dropped).
    */
  private val PersistedProps = Set("runtimeFilteringEager", "deletionVectors")

  private def root(): String = warehouseRoot.getOrElse(
    throw new UnsupportedOperationException(
      s"catalog '$catalogName' has no named-table root - set " +
        s"spark.sql.catalog.$catalogName.warehouseRoot, or address the " +
        s"table by path: SELECT * FROM $catalogName.`/abs/path`"))

  private def fs(spark: SparkSession) =
    new HPath(root()).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def entryKey(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString(".")

  private def entryPath(ident: Identifier): HPath =
    new HPath(s"${root()}/_catalog/${entryKey(ident)}")

  private def readEntry(spark: SparkSession, ident: Identifier): Option[Entry] = {
    val p = entryPath(ident)
    val f = fs(spark)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.split("\n")
        finally in.close()
      val kv = lines.filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap
      val props = kv.get("props").map(_.split(",").filter(_.nonEmpty).map { p =>
        val Array(k, v) = p.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap).getOrElse(Map.empty)
      Some(Entry(kv("path"), kv("partCols").split(",").toSeq,
        StructType.fromDDL(kv("schema")), props))
    }
  }

  private def writeEntry(spark: SparkSession, ident: Identifier,
                         e: Entry, exclusive: Boolean): Unit = {
    val f = fs(spark)
    f.mkdirs(new HPath(s"${root()}/_catalog"))
    val out =
      try f.create(entryPath(ident), !exclusive)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new TableAlreadyExistsException(
            Seq(catalogName) ++ ident.namespace :+ ident.name)
        case ex: java.io.IOException if exclusive && f.exists(entryPath(ident)) =>
          throw new TableAlreadyExistsException(
            Seq(catalogName) ++ ident.namespace :+ ident.name)
      }
    val propsLine =
      if (e.props.isEmpty) ""
      else "\nprops\t" + e.props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${java.net.URLEncoder.encode(k, "UTF-8")}=" +
          java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString(",")
    try out.write(
      (s"path\t${e.path}\npartCols\t${e.partCols.mkString(",")}\n" +
        s"schema\t${e.schema.toDDL}" + propsLine).getBytes("UTF-8"))
    finally out.close()
  }

  private def noSuch(ident: Identifier): Nothing =
    throw new NoSuchTableException(
      Seq(catalogName) ++ ident.namespace :+ ident.name)

  private def load(ident: Identifier, versionAsOf: Option[Long]): Table = {
    val spark = SparkSession.active
    if (isPathIdent(ident)) {
      val path = pathOf(ident)
      val conf = WarehouseDataSource.ReadConf(path, versionAsOf,
        keyCol = None, changeFeed = false, startingVersion = None,
        endingVersion = None, maxCommits = 64)
      val schema: StructType =
        try conf.frame(spark).schema
        catch { case _: NoCommittedVersion => noSuch(ident) }
      new WarehouseTable(schema, conf)
    } else {
      val e = readEntry(spark, ident).getOrElse(noSuch(ident))
      val conf = WarehouseDataSource.ReadConf(e.path, versionAsOf,
        keyCol = None, changeFeed = false, startingVersion = None,
        endingVersion = None, maxCommits = 64,
        // a table-level TBLPROPERTIES declaration: every reader of
        // this named table opts into runtime join-key pruning
        // regardless of current size
        rfEager = e.props.get("runtimeFilteringEager").exists(_.toBoolean),
        // table-level declaration: DELETE FROM this table commits
        // deletion-vector sidecars (merge-on-read) instead of
        // rewriting partitions
        dvDeletes = e.props.get("deletionVectors").exists(_.toBoolean))
      // registered but not yet written: serve the declared schema over
      // an empty snapshot; the first INSERT creates version 1 with the
      // declared partition layout
      val schema: StructType =
        try conf.frame(spark).schema
        catch { case _: NoCommittedVersion => e.schema }
      new WarehouseTable(schema, conf, createPartCols = Some(e.partCols))
    }
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <n>`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft version identifiers are commit numbers, got '$version'")
      }))

  /** `TIMESTAMP AS OF <ts>` — Spark hands the instant as epoch
    * MICROseconds.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spark = SparkSession.active
    val path =
      if (isPathIdent(ident)) pathOf(ident)
      else readEntry(spark, ident).getOrElse(noSuch(ident)).path
    load(ident, Some(Warehouse.versionAt(spark, path, timestampMicros)))
  }

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true } catch { case _: NoSuchTableException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    if (warehouseRoot.isEmpty) return Array.empty
    val dir = new HPath(s"${root()}/_catalog")
    val f = fs(spark)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).map(_.getPath.getName).flatMap { key =>
      val parts = key.split("\\.")
      val (ns, n) = (parts.init, parts.last)
      if (namespace.isEmpty || ns.sameElements(namespace))
        Some(Identifier.of(ns, n))
      else None
    }
  }

  /** `CREATE TABLE graft.db.name (…) PARTITIONED BY (…)` (and the
    * catalog half of CTAS): registers identifier → managed path +
    * layout + declared schema, CREATE-EXCLUSIVE. Data lands on the
    * first INSERT ([[Warehouse.create]] via the write builder) — a
    * warehouse table has no empty physical state, so registration and
    * creation are deliberately two steps, like Delta's empty table
    * with zero add-files. Only identity partition transforms exist
    * here (bucket/days belong to the layout procedures).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(!isPathIdent(ident),
      "path-addressed graft tables are created by Warehouse.create " +
        "(or CREATE TABLE a NAMED identifier: graft.db.name)")
    val spark = SparkSession.active
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft tables partition by identity columns only, got $other")
    }
    require(partCols.nonEmpty,
      "graft tables are hive-partitioned - declare PARTITIONED BY (col, …)")
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the table schema"))
    val path = (Seq(root()) ++ ident.namespace :+ ident.name).mkString("/")
    import scala.jdk.CollectionConverters._
    // normalize to the canonical key spelling at write time, so the
    // read side matches exactly whatever case the DDL used
    val kept = properties.asScala.toMap.flatMap { case (k, v) =>
      PersistedProps.find(_.equalsIgnoreCase(k)).map(_ -> v)
    }
    writeEntry(spark, ident, Entry(path, partCols, schema, kept),
      exclusive = true)
    new WarehouseTable(schema,
      WarehouseDataSource.ReadConf(path, None, None, changeFeed = false,
        None, None, 64,
        rfEager = kept.get("runtimeFilteringEager").exists(_.toBoolean),
        dvDeletes = kept.get("deletionVectors").exists(_.toBoolean)),
      createPartCols = Some(partCols))
  }

  /** `ALTER TABLE … ADD / RENAME / DROP COLUMN` — binds to the
    * warehouse's explicit schema overlay log ([[Warehouse.addColumns]]
    * / [[Warehouse.renameColumn]] / [[Warehouse.dropColumns]]): every
    * change is ONE metadata write, zero data files touched — added
    * columns read as NULL until stored (the m4 widening contract made
    * explicit), renames map old→new at read time, drops stop serving
    * the column (and retire the name). Works on both named and path
    * identifiers; nested fields, positions, and type changes are
    * refused loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"graft ALTER TABLE $what works on top-level columns only, got " +
          s"${fieldNames.mkString(".")}")
      fieldNames.head
    }
    val entry = if (isPathIdent(ident)) None
      else Some(readEntry(spark, ident).getOrElse(noSuch(ident)))
    val path = entry.fold(pathOf(ident))(_.path)
    val created =
      try { Warehouse.currentVersion(spark, path); true }
      catch { case _: NoCommittedVersion => false }
    val adds = changes.collect {
      case add: TableChange.AddColumn =>
        require(add.position() == null,
          "graft ALTER TABLE does not support column positions - new " +
            "columns append")
        topLevel(add.fieldNames, "ADD COLUMN") -> add.dataType()
    }
    val renames = changes.collect {
      case rn: TableChange.RenameColumn =>
        topLevel(rn.fieldNames, "RENAME COLUMN") -> rn.newName()
    }
    val drops = changes.collect {
      case del: TableChange.DeleteColumn =>
        topLevel(del.fieldNames, "DROP COLUMN")
    }
    val widens = changes.collect {
      case up: TableChange.UpdateColumnType =>
        topLevel(up.fieldNames, "ALTER COLUMN TYPE") -> up.newDataType()
    }
    // SET/UNSET TBLPROPERTIES — only the keys the engine reads (an
    // unknown key refuses loudly: silently recording a property no
    // reader consults would misrepresent the table's behavior)
    def canonProp(k: String): String =
      PersistedProps.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new UnsupportedOperationException(
          s"graft tables support TBLPROPERTIES " +
            s"${PersistedProps.mkString(", ")} only, got '$k'"))
    val setProps = changes.collect {
      case sp: TableChange.SetProperty => canonProp(sp.property()) -> sp.value()
    }
    val unsetProps = changes.collect {
      case rp: TableChange.RemoveProperty => canonProp(rp.property())
    }
    require(adds.size + renames.size + drops.size + widens.size +
        setProps.size + unsetProps.size == changes.size,
      s"graft ALTER TABLE supports ADD / RENAME / DROP COLUMN, " +
        s"reader-promotable ALTER COLUMN TYPE widenings, and " +
        s"SET/UNSET TBLPROPERTIES only, got " +
        s"${changes.mkString(", ")} (other schema evolution happens " +
        "through widening merges)")
    if (created) {
      if (adds.nonEmpty) Warehouse.addColumns(spark, path, adds)
      renames.foreach { case (from, to) =>
        Warehouse.renameColumn(spark, path, from, to) }
      if (drops.nonEmpty) Warehouse.dropColumns(spark, path, drops)
      widens.foreach { case (n, t) =>
        Warehouse.widenColumnType(spark, path, n, t) }
    } else entry match {
      // registered-but-unwritten named table: rewrite the declared schema
      case Some(e) =>
        adds.foreach { case (n, _) =>
          require(!e.schema.fieldNames.contains(n),
            s"column '$n' already exists on ${entryKey(ident)}") }
        (renames.map(_._1) ++ drops).foreach { n =>
          require(e.schema.fieldNames.contains(n),
            s"column '$n' does not exist on ${entryKey(ident)}")
          require(!e.partCols.contains(n),
            s"cannot rename/drop partition column '$n'") }
        val renamed = e.schema.fields.map { f =>
          renames.find(_._1 == f.name).fold(f)(r => f.copy(name = r._2)) }
        // the same freshness check the written-table path runs: a
        // rename target must not collide with an existing or
        // co-renamed column (advisor r16)
        renames.foreach { case (_, to) =>
          require(renamed.count(_.name == to) == 1,
            s"column '$to' already exists on ${entryKey(ident)}") }
        val kept = renamed.filterNot(f => drops.contains(f.name))
        widens.foreach { case (n, _) =>
          require(kept.exists(_.name == n),
            s"column '$n' does not exist on ${entryKey(ident)}")
          require(!e.partCols.contains(n),
            s"cannot retype partition column '$n'") }
        val retyped = kept.map { f =>
          widens.find(_._1 == f.name).fold(f) { w =>
            // only the widenings the written-table path admits — a
            // declared-then-written table must behave exactly like a
            // written-then-altered one (advisor r16)
            require(graft.io.Warehouse.widenable(f.dataType, w._2),
              s"cannot change column '${f.name}' from ${f.dataType.sql} " +
                s"to ${w._2.sql} - only reader-promotable widenings are " +
                "admitted, declared or written")
            f.copy(dataType = w._2)
          } }
        writeEntry(spark, ident, e.copy(schema = StructType(
          retyped ++ adds.map { case (n, t) =>
            org.apache.spark.sql.types.StructField(n, t) })),
          exclusive = false)
      case None => noSuch(ident)
    }
    if (setProps.nonEmpty || unsetProps.nonEmpty) {
      if (entry.isEmpty) throw new UnsupportedOperationException(
        "TBLPROPERTIES live in the named catalog entry - path-addressed " +
          "tables take the reader option (option(\"runtimeFilteringEager\", " +
          "…)) instead")
      // re-read: the unwritten-entry branch above may have just
      // rewritten the declared schema
      val e = readEntry(spark, ident).getOrElse(noSuch(ident))
      writeEntry(spark, ident,
        e.copy(props = e.props ++ setProps -- unsetProps),
        exclusive = false)
    }
    loadTable(ident)
  }

  /** `DROP TABLE graft.db.name`: removes the entry and the MANAGED
    * data directory (named tables live under the catalog root, so the
    * data is catalog-owned — Delta's managed-table contract).
    * Path-addressed tables still refuse: their data is external.
    */
  override def dropTable(ident: Identifier): Boolean = {
    if (isPathIdent(ident))
      throw new UnsupportedOperationException(
        "drop a path-addressed warehouse table by deleting its path; " +
          "vacuum() reclaims history")
    val spark = SparkSession.active
    readEntry(spark, ident) match {
      case None => false
      case Some(e) =>
        val f = fs(spark)
        f.delete(new HPath(e.path), true)
        f.delete(entryPath(ident), false)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "rename a warehouse table by moving its path")

  /** `CALL graft.system.<proc>(table => '/path', …)` — the SQL
    * maintenance plane ([[WarehouseProcedures]]: compact / vacuum /
    * restore / maintain), the Iceberg/Delta procedure convention.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace, got " +
        s"'${ident.namespace.mkString(".")}'")
    WarehouseProcedures.byName(ident.name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown graft procedure '${ident.name}' - known: " +
          WarehouseProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    WarehouseProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray
}
