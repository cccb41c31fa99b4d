package graft.sources

import graft.txn._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 `TableCatalog`: graft tables as first-class SQL
  * citizens. Configure once —
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  * }}}
  *
  * — then `CREATE TABLE graft.ns.t (...) PARTITIONED BY (c)`,
  * `INSERT INTO graft.ns.t ...`, `INSERT OVERWRITE graft.ns.t ...`,
  * `SELECT ... FROM graft.ns.t` (with the batch source's file pruning /
  * column pruning / aggregate pushdown), `DROP TABLE`, `SHOW TABLES`.
  * A table is the directory `<warehouse>/<ns...>/<name>` with its
  * transaction log; CREATE is one metadata-only commit (v0), and every
  * write goes through the TableWriter path — constraints, generated
  * columns, footer stats, schema enforcement, and commit rebase all
  * apply to SQL writers for free.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse is required"))
  }

  override def name(): String = catalogName

  /** Maintenance procedures at EXECUTION time (`CALL
    * gcat.system.optimize(...)`): Spark's Call plan stages for EXPLAIN
    * without invoking, closing the TVFs' plan-time side-effect caveat.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(warehouse, namespace)

  /** SQL CHECK constraints (`CREATE TABLE ... CHECK`, `ALTER TABLE
    * ADD/DROP CONSTRAINT`) and generated columns (`GENERATED ALWAYS
    * AS`) resolve through this catalog into the engine's Metadata —
    * the same enforcement every write path already runs.
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** Check-only constraint intake: named CHECK expressions are stored
    * (name → SQL) and enforced; PK/FK/UNIQUE would be informational
    * lies (nothing enforces them), so they refuse loudly.
    */
  private def checkConstraints(
      cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Map[String, String] =
    cs.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        c.name() -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are supported, got ${other.toDDL}")
    }.toMap

  private def spark = org.apache.spark.sql.SparkSession.active
  private def conf = spark.sessionState.newHadoopConf()
  private def fs = new Path(warehouse).getFileSystem(conf)

  private def tableDir(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(new Path(warehouse)) { (p, part) => new Path(p, part) }
      .toString

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_txn_log"))

  override def defaultNamespace(): Array[String] = Array("default")

  // ------ tables ------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (!fs.exists(nsDir)) throw noNamespace(namespace)
    fs.listStatus(nsDir).filter(_.isDirectory)
      .filter(st => isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(new Path(tableDir(ident)))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val resolved = GraftBatch.resolve(Map("tablePath" -> dir))
    new GraftBatchTable(resolved.schema,
      Map("tablePath" -> dir),
      partitionColumns = resolved.partitionColumns,
      tableProperties = resolved.tableProperties)
  }

  /** SQL time travel: `SELECT ... FROM gcat.ns.t VERSION AS OF 3`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF expects a commit version number, got '$version'")
    }
    val resolved = GraftBatch.resolve(
      Map("tablePath" -> dir, "versionAsOf" -> v.toString))
    new GraftBatchTable(resolved.schema,
      Map("tablePath" -> dir, "versionAsOf" -> v.toString),
      partitionColumns = resolved.partitionColumns,
      tableProperties = resolved.tableProperties)
  }

  /** SQL time travel: `... TIMESTAMP AS OF '2024-01-01T00:00:00Z'`
    * (micros since epoch arrive from Spark's analyzer).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    // Spark hands micros; the log's commit timestamps are millis
    val ms = timestamp / 1000L
    val resolved = GraftBatch.resolve(
      Map("tablePath" -> dir, "timestampAsOf" -> ms.toString))
    new GraftBatchTable(resolved.schema,
      Map("tablePath" -> dir, "timestampAsOf" -> ms.toString),
      partitionColumns = resolved.partitionColumns,
      tableProperties = resolved.tableProperties)
  }

  /** Keys Spark's catalog plumbing injects that are NOT user table
    * properties — persisting them would make SHOW TBLPROPERTIES echo
    * engine internals back as if the user had set them.
    */
  private def userProperties(
      properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap -- Seq("provider", "location", "owner",
      "external", "path", "is_managed_location", "option.tablePath")

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft tables support identity partitioning only, got $other")
    }.toSeq
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    // CREATE TABLE = one metadata-only commit (v0): schema + partition
    // spec exist before any data file does
    val log = new TxnLog(dir, conf)
    val props = userProperties(properties)
    log.commit(0L, Seq(
      Metadata(schema.json, partCols, properties = props),
      CommitInfo("CREATE TABLE", System.currentTimeMillis())))
    new GraftBatchTable(schema, Map("tablePath" -> dir),
      partitionColumns = partCols, tableProperties = props)
  }

  /** The TableInfo variant Spark routes `CREATE TABLE` with constraints
    * or generated columns through (the 4-arg default would silently
    * DROP both). CHECK constraints land named in the Metadata; each
    * column's `GENERATED ALWAYS AS` expression lands in
    * generatedColumns, so the write path computes-or-validates it
    * exactly like a TableWriter-declared one.
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val dir = tableDir(ident)
    if (isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    // CatalogV2Util is private[sql]; name/type/nullability plus the
    // DEFAULT metadata keys are what the engine stores (generation
    // expressions live in generatedColumns). Defaults ride the schema's
    // field metadata under Spark's own keys, so the analyzer fills
    // omitted columns on INSERT with no engine-side work.
    val schema = StructType(info.columns().map { c =>
      val base = org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable())
      (Option(c.defaultValue()), Option(c.identityColumnSpec())) match {
        case (Some(dv), _) =>
          base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", dv.getSql)
            .putString("EXISTS_DEFAULT", dv.getSql)
            .build())
        case (None, Some(_)) =>
          // a NULL default makes `INSERT INTO t (other cols)` analyze:
          // the analyzer null-fills the omitted identity column and the
          // WRITE PATH allocates real values (NULL-as-omission, the
          // same convention generated columns use)
          base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", "CAST(NULL AS BIGINT)")
            .putString("EXISTS_DEFAULT", "CAST(NULL AS BIGINT)")
            .build())
        case _ => base
      }
    })
    val partCols = partColsOf(schema, info.partitions())
    val named = checkConstraints(info.constraints())
    val generated = info.columns().toSeq
      .filter(_.generationExpression() != null)
      .map(c => c.name() -> c.generationExpression()).toMap
    val identity = info.columns().toSeq
      .filter(_.identityColumnSpec() != null)
      .map { c =>
        val spec = c.identityColumnSpec()
        if (c.dataType() != org.apache.spark.sql.types.LongType)
          throw new UnsupportedOperationException(
            s"identity column ${c.name()} must be BIGINT, got ${c.dataType()}")
        if (spec.isAllowExplicitInsert)
          throw new UnsupportedOperationException(
            s"identity column ${c.name()}: GENERATED BY DEFAULT is not " +
              "supported — explicit inserts could duplicate engine-" +
              "allocated values; use GENERATED ALWAYS AS IDENTITY")
        c.name() -> s"${spec.getStart}:${spec.getStep}"
      }.toMap
    val log = new TxnLog(dir, conf)
    log.commit(0L, Seq(
      Metadata(schema.json, partCols,
        constraints = named.values.toSeq,
        generatedColumns = generated,
        constraintNames = named,
        identityColumns = identity,
        properties = userProperties(info.properties())),
      CommitInfo("CREATE TABLE", System.currentTimeMillis())))
    new GraftBatchTable(schema, Map("tablePath" -> dir),
      partitionColumns = partCols,
      tableProperties = userProperties(info.properties()))
  }

  // ------ atomic CTAS / REPLACE TABLE AS SELECT (StagingTableCatalog) ------
  //
  // Spark stages the table, runs the write INTO the staged handle, and
  // only then calls commitStagedChanges — which lands the new Metadata,
  // the removes of every previously-live file (REPLACE), and the staged
  // AddFiles in ONE log commit. Readers see the old table or the new
  // one, never a half-written mix; history survives (the pre-REPLACE
  // state stays time-travelable), unlike a DROP+CREATE emulation.

  private def partColsOf(schema: StructType,
      partitions: Array[Transform]): Seq[String] = {
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft tables support identity partitioning only, got $other")
    }.toSeq
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    partCols
  }

  private def refuseIdentityInCtas(info: TableInfo): Unit =
    if (info.columns().exists(_.identityColumnSpec() != null))
      throw new UnsupportedOperationException(
        "identity columns in CTAS/RTAS are not supported — the SELECT's " +
          "rows bypass the identity allocator; CREATE the table first, " +
          "then INSERT")

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    if (isTableDir(new Path(tableDir(ident))))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    refuseIdentityInCtas(info)
    new StagedGraftTable(tableDir(ident), info.schema(),
      partColsOf(info.schema(), info.partitions()), replace = false)
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (!isTableDir(new Path(tableDir(ident))))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    refuseIdentityInCtas(info)
    new StagedGraftTable(tableDir(ident), info.schema(),
      partColsOf(info.schema(), info.partitions()), replace = true)
  }

  override def stageCreateOrReplace(
      ident: Identifier, info: TableInfo): StagedTable = {
    refuseIdentityInCtas(info)
    new StagedGraftTable(tableDir(ident), info.schema(),
      partColsOf(info.schema(), info.partitions()), replace = true)
  }

  /** SQL ALTER TABLE mapped onto the engine's evolution commits:
    * ADD COLUMNS = a schema-evolution Metadata commit (pre-evolution
    * files surface the column as null, so the column must be nullable);
    * RENAME COLUMN = the metadata-only column-mapping rename;
    * DROP COLUMN = the metadata-only schema cut (re-ADDing a dropped
    * name maps it to a fresh physical name so old bytes cannot
    * resurrect); ADD/DROP CONSTRAINT = named CHECK commits. Anything
    * else (type changes, repositioning, properties) refuses loudly —
    * refusal beats silently wrong table state.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    changes.foreach {
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames().length == 1,
          "nested ADD COLUMN is not supported")
        require(ac.isNullable,
          "an added column must be nullable: files written before the " +
            "evolution surface it as null")
        require(ac.position() == null,
          "ADD COLUMN ... FIRST/AFTER is not supported (columns append)")
        val log = new TxnLog(dir, conf)
        // retry like every other commit path: losers re-read the
        // snapshot and re-validate, so a racing writer surfaces as a
        // clean retry (or a real 'column exists' error), never a raw
        // concurrent-commit exception to the DDL user
        OptimisticTxn.retrying(log) { v =>
          val snap = log.snapshotLatest()
          TxnLog.assertWritable(snap, dir)
          val m = snap.metadata.getOrElse(throw new IllegalStateException(
            s"no table metadata at $dir"))
          val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[StructType]
          val colName = ac.fieldNames().head
          require(!schema.fieldNames.contains(colName),
            s"column '$colName' already exists")
          // a name any HISTORICAL version declared may physically exist
          // inside live data files (DROP COLUMN is metadata-only): the
          // re-added column must map to a FRESH physical name or the
          // dropped values would resurrect. physicalColumnsEver also
          // consults live files' stats keys — the surviving evidence
          // when log retention expired the declaring commits.
          val historicalPhysical: Set[String] =
            TableWriter.physicalColumnsEver(log, snap)
          val needsFresh = historicalPhysical.contains(colName)
          val newMapping =
            if (needsFresh) m.columnMapping + (colName -> s"$colName#v$v")
            else m.columnMapping
          val evolved = schema.add(
            org.apache.spark.sql.types.StructField(colName, ac.dataType(),
              nullable = true))
          // introducing a mapping entry demands the reader protocol, as
          // in renameColumn: a mapping-blind reader would resurrect the
          // dropped column's bytes
          val protocol: Seq[Action] =
            if (!needsFresh || snap.protocol.exists(_.minReaderVersion >= 2))
              Seq.empty
            else Seq(Protocol(2, 2))
          log.commit(v, protocol ++ Seq(
            m.copy(schemaJson = evolved.json, columnMapping = newMapping),
            CommitInfo("ALTER TABLE ADD COLUMN", System.currentTimeMillis())))
        }
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames().length == 1,
          "nested RENAME COLUMN is not supported")
        TableWriter.renameColumn(spark, dir, rc.fieldNames().head,
          rc.newName(),
          version = new TxnLog(dir, conf).latestVersion().getOrElse(
            throw new IllegalStateException(s"no table at $dir")) + 1,
          commitTs = System.currentTimeMillis())
      case ac: TableChange.AddConstraint =>
        val named = checkConstraints(Array(ac.constraint()))
        val (cName, cExpr) = named.head
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          // validates every existing row in one scan, then commits the
          // named expression into the Metadata
          TableWriter.addConstraint(spark, dir, cExpr,
            version = v, commitTs = System.currentTimeMillis(),
            name = Some(cName))
        }
      case dc: TableChange.DropConstraint =>
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          TableWriter.dropConstraint(spark, dir, dc.name(),
            ifExists = dc.ifExists(), version = v,
            commitTs = System.currentTimeMillis())
        }
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN is not supported")
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          TableWriter.dropColumn(spark, dir, del.fieldNames().head,
            version = v, commitTs = System.currentTimeMillis())
        }
      case sp: TableChange.SetProperty =>
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          TableWriter.setTableProperties(spark, dir,
            set = Map(sp.property() -> sp.value()), version = v)
        }
      case rp: TableChange.RemoveProperty =>
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          TableWriter.setTableProperties(spark, dir, set = Map.empty,
            unset = Seq(rp.property()), version = v)
        }
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          "nested ALTER COLUMN TYPE is not supported")
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          TableWriter.widenColumnType(spark, dir, ut.fieldNames().head,
            ut.newDataType(), version = v,
            commitTs = System.currentTimeMillis())
        }
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames().length == 1,
          "nested ALTER COLUMN DEFAULT is not supported")
        // DROP DEFAULT arrives as an empty default string
        val sql = Option(ud.newDefaultValue()).filter(_.nonEmpty)
        val log = new TxnLog(dir, conf)
        OptimisticTxn.retrying(log) { v =>
          TableWriter.setColumnDefault(spark, dir, ud.fieldNames().head,
            sql, version = v, commitTs = System.currentTimeMillis())
        }
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change $other is not supported (supported: ADD " +
            "COLUMNS of nullable top-level columns, RENAME COLUMN, " +
            "widening ALTER COLUMN TYPE, ALTER COLUMN SET/DROP DEFAULT)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = new Path(tableDir(ident))
    if (!isTableDir(dir)) false
    else try fs.delete(dir, true)
    finally TxnLog.evictUnder(dir.toString, conf)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = new Path(tableDir(oldIdent))
    if (!isTableDir(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(oldIdent)
    val dst = new Path(tableDir(newIdent))
    if (isTableDir(dst))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    fs.mkdirs(dst.getParent)
    try {
      if (!fs.rename(src, dst))
        throw new IllegalStateException(s"rename failed: $src -> $dst")
    } finally TxnLog.evictUnder(src.toString, conf)
  }

  // ------ namespaces (directories under the warehouse) ------

  private def noNamespace(ns: Array[String]) =
    new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(ns)

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory)
      .filterNot(st => isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw noNamespace(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    fs.exists(p) && !isTableDir(p)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw noNamespace(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(p)
  }

  override def alterNamespace(
      namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val p = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      try fs.delete(p, true)
      finally TxnLog.evictUnder(p.toString, conf)
    }
  }
}

/** The staged handle behind atomic CTAS / RTAS: the write stages data
  * files into the table tree (uncommitted files are invisible to
  * readers), and `commitStagedChanges` lands new Metadata + removes of
  * the previous snapshot's files (REPLACE) + the staged adds in ONE
  * commit. `abortStagedChanges` deletes the staged files — the table is
  * untouched on any failure.
  */
private[sources] class StagedGraftTable(
    dir: String,
    tableSchema: StructType,
    partCols: Seq[String],
    replace: Boolean) extends StagedTable
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private def spark = org.apache.spark.sql.SparkSession.active
  private def conf = spark.sessionState.newHadoopConf()
  private val stagedAdds =
    scala.collection.mutable.ArrayBuffer.empty[AddFile]
  private val commitTs = System.currentTimeMillis()

  override def name(): String = dir
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // truncate is a no-op for a staged write: REPLACE removes the old
      // snapshot's files in the atomic commit anyway
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(
                  data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                // write only — the commit happens in commitStagedChanges.
                // The new table's own layout: no column mapping and no
                // properties carry over from a table this one replaces.
                stagedAdds ++= TableWriter.stageAndMove(data.sparkSession,
                  data, dir, partCols, version = commitTs,
                  commitTs = commitTs, dataChange = true, meta = None)
              }
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    val log = new TxnLog(dir, conf)
    var attempt = 0
    while (true) {
      val latest = log.latestVersion()
      if (!replace && latest.isDefined)
        throw new IllegalStateException(
          s"table appeared concurrently at $dir — staged CREATE aborted")
      val removes: Seq[Action] = latest match {
        case Some(_) =>
          val snap = log.snapshotLatest()
          TxnLog.assertWritable(snap, dir)
          snap.files.map(f => RemoveFile(f.path, commitTs, f.partitionValues))
        case None => Seq.empty
      }
      val next = latest.map(_ + 1).getOrElse(0L)
      val op = if (replace && latest.isDefined) "REPLACE TABLE AS SELECT"
        else "CREATE TABLE AS SELECT"
      try {
        log.commit(next,
          Metadata(tableSchema.json, partCols) +: removes ++:
            (stagedAdds.toSeq :+ CommitInfo(op, commitTs)))
        return
      } catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.startsWith("concurrent commit") =>
          attempt += 1
          if (attempt > 20) { abortStagedChanges(); throw e }
          Thread.sleep(1L + scala.util.Random.nextInt(8))
      }
    }
  }

  override def abortStagedChanges(): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    stagedAdds.foreach { a =>
      try fs.delete(new Path(TxnLog.dataPath(dir, a.path)), false)
      catch { case _: Throwable => () }
    }
  }
}
