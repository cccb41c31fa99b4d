package graft.txn

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr}

/** Versioned-parquet table writer: writes a DataFrame's files, then
  * commits their AddFile actions atomically — the "Delta sink" of
  * SURVEY.md §7.1 step 3. Spark's distributed parquet writer (one task
  * per partition) writes each file once, straight to its final name
  * under the table, and reads its footer stats in the task
  * ([[TableCommitProtocol]]), so the data path scales with the cluster;
  * only the file-list commit is driver-side.
  */
// Serializable because task closures (vacuum's and clone's file passes)
// call this module's helpers — the module is stateless, so serializing
// the reference is free.
object TableWriter extends Serializable {

  /** Max CODE POINTS of a string min/max bound in the log (Delta caps at
    * 32 by default; 64 keeps every current fixture's bounds exact).
    */
  private[graft] val StatsStringCap = 64

  /** Write `df` as version `v` of `tablePath` (appending to prior
    * versions), optionally hive-partitioned by `partitionBy`.
    * `commitTs` is the deterministic event/commit time recorded in the
    * log (epoch millis) so fixtures and tests are reproducible.
    */
  /** Route every row to one of `n` buckets by the reference's output
    * contract — murmur3_x86_32 of the canonical partition-value string
    * modulo n (DeltaReader.java:60–63, DeltaRecord.java:228–234) — and
    * make the routing a SINK property: one shuffle, bucket i's rows land
    * in files under `route=i`. A downstream consumer (the reference's
    * per-partition Pulsar producers) reads its slot's directory only.
    */
  def writeRouted(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String],
      routeBuckets: Int,
      version: Long = 0L,
      commitTs: Long = 0L): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, lit}
    // null partition values hash as the canonical hive form the txn log
    // records ("col=__HIVE_DEFAULT_PARTITION__") — concat_ws would DROP
    // the null part and silently route to a slot that disagrees with the
    // file's recorded partitionValues
    val pvExpr =
      if (partitionBy.isEmpty) lit("")
      else concat(partitionBy.sorted.zipWithIndex.flatMap { case (c, i) =>
        val part = Seq(lit(c), lit("="),
          coalesce(col(c).cast("string"), lit("__HIVE_DEFAULT_PARTITION__")))
        if (i == 0) part else lit(",") +: part
      }: _*)
    val routed = df
      .withColumn("route", graft.functions.Murmur3X86.routeIndex(pvExpr, routeBuckets))
      .repartition(routeBuckets, col("route"))
    write(spark, routed, tablePath, partitionBy = Seq("route") ++ partitionBy,
      version = version, commitTs = commitTs, operation = "WRITE_ROUTED")
  }

  def write(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      version: Long = 0L,
      commitTs: Long = 0L,
      operation: String = "WRITE",
      extraActions: Seq[Action] = Seq.empty,
      generated: Map[String, String] = Map.empty): Unit = {
    val base =
      if (version == 0L) None
      else {
        val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
        log.latestVersion().map(log.snapshot)
      }
    writeOn(spark, df, tablePath, base, partitionBy, version, commitTs,
      operation, extraActions, generated)
  }

  /** [[write]] on the snapshot `base` the caller already read (None for a
    * new table): the write reads the log no further before its commit.
    * Returns the table's metadata after the commit.
    */
  private[graft] def writeOn(
      spark: SparkSession,
      df0: DataFrame,
      tablePath: String,
      base: Option[Snapshot],
      partitionBy: Seq[String],
      version: Long,
      commitTs: Long,
      operation: String,
      extraActions: Seq[Action] = Seq.empty,
      generated: Map[String, String] = Map.empty): Option[Metadata] = {
    val conf = spark.sessionState.newHadoopConf()
    // Writer-protocol guard on EVERY non-initial write — including
    // schema-evolution commits (a Metadata action must not bypass the
    // minWriterVersion check: that is exactly the corruption the guard
    // exists to prevent).
    base.foreach(TxnLog.assertWritable(_, tablePath))
    val priorMeta: Option[Metadata] = base.flatMap(_.metadata)
    // Generated columns: declared on the initial write, carried forward
    // after. The writer may omit them (computed here) or supply them
    // (validated here — a disagreeing value is rejected, Delta
    // semantics): downstream pruning trusts the column precisely because
    // no write path can sneak an inconsistent value in.
    val genDefs =
      if (generated.nonEmpty) generated
      else priorMeta.map(_.generatedColumns).getOrElse(Map.empty)
    val df = genDefs.foldLeft(df0) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        // NULL-supplied values compute: SQL `INSERT INTO t (a, b)` fills
        // the omitted generated column with NULL before the writer sees
        // it, which must behave like omission, not like a violation. A
        // NON-null disagreeing value still rejects (Delta semantics).
        val filled = d.withColumn(c,
          coalesce(col(c), expr(e).cast(d.schema(c).dataType)))
        val bad = filled.filter(!(col(c) <=> expr(e))).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"generated column violation at $tablePath: '$c' disagrees with " +
            s"GENERATED ALWAYS AS ($e) on $bad rows")
        filled
      }
    }
    // Identity columns: declared by the catalog's CREATE (this commit's
    // Metadata) or carried on the table — the write path allocates.
    val idDefs = extraActions
      .collectFirst { case m: Metadata if m.identityColumns.nonEmpty =>
        m.identityColumns }
      .getOrElse(priorMeta.map(_.identityColumns).getOrElse(Map.empty))
    val (dfId, idCursors) =
      fillIdentity(spark, df, idDefs, tablePath, version - 1, conf)
    // fill appends the column last; restore the DECLARED column order
    // (this commit's Metadata, else the table's), falling back to the
    // caller's order with omitted identity columns appended
    val dfW =
      if (idDefs.isEmpty) dfId
      else {
        val declaredOrder = extraActions
          .collectFirst { case m: Metadata => m }
          .orElse(priorMeta)
          .map(m => org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq)
        val order = declaredOrder.getOrElse(
          df0.columns.toSeq.filterNot(idDefs.contains) ++
            idDefs.keys.toSeq.sorted)
        dfId.select(order.map(col): _*)
      }
    // Schema enforcement (Delta semantics): an append must match the
    // table's declared schema by name+type unless the commit itself
    // carries a Metadata action evolving it. Silent drift would poison
    // every downstream reader that trusts the log's schema.
    if (version > 0L && !extraActions.exists(_.isInstanceOf[Metadata])) {
      priorMeta.foreach { m =>
        val declared = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        def shape(s: org.apache.spark.sql.types.StructType) =
          s.fields.map(f => (f.name, f.dataType)).toSeq
        if (shape(declared) != shape(dfW.schema))
          throw new IllegalArgumentException(
            s"schema enforcement: append schema ${dfW.schema.simpleString} " +
              s"does not match the table schema at $tablePath; include a " +
              "Metadata action to evolve the schema")
      }
    }
    // CHECK constraints: caller-supplied on this commit's Metadata, else
    // carried forward from the table (schema evolution must not silently
    // drop data-quality rules). Enforced BEFORE any file is staged.
    val constraints = extraActions
      .collectFirst { case m: Metadata if m.constraints.nonEmpty => m.constraints }
      .getOrElse(priorMeta.map(_.constraints).getOrElse(Seq.empty))
    enforceConstraints(dfW, constraints, tablePath)
    val adds = stageAndMove(spark, dfW, tablePath, partitionBy, version,
      commitTs, dataChange = true, priorMeta)
    // schemaJson stays LOGICAL; the column mapping, generated-column,
    // and identity definitions (if any) carry forward so later
    // readers/writers keep translating, computing, and allocating
    val meta = Metadata(dfW.schema.json, partitionBy, constraints,
      priorMeta.map(_.columnMapping).getOrElse(Map.empty), genDefs,
      priorMeta.map(_.constraintNames).getOrElse(Map.empty),
      identityColumns = idDefs)
    val log = new TxnLog(tablePath, conf)
    val metaAction: Seq[Action] =
      if (version == 0L || extraActions.exists(_.isInstanceOf[Metadata])) Seq(meta)
      else Seq.empty
    log.commit(version,
      metaAction ++ extraActions.filterNot(_.isInstanceOf[Metadata]) ++
        adds :+ CommitInfo(operation, commitTs,
          identityHighWater = identityClaims(idCursors, adds)))
    if (metaAction.nonEmpty) Some(meta) else priorMeta
  }

  /** Fill GENERATED ALWAYS AS IDENTITY columns: writer-supplied
    * NON-null values reject (ALWAYS semantics; analyzer-filled NULLs
    * behave as omission, matching the generated-column convention), and
    * values allocate from the log's persisted per-column cursor via
    * `zipWithIndex` — distributed dense numbering whose only extra cost
    * is one lightweight count job, never a global sort or a single
    * partition. Returns the filled frame (identity column appended
    * LAST; callers reorder to the declared schema) plus each column's
    * (cursor, step) for the commit's claim record.
    */
  private def fillIdentity(
      spark: SparkSession,
      df0: DataFrame,
      idDefs: Map[String, String],
      tablePath: String,
      readVersion: Long,
      conf: org.apache.hadoop.conf.Configuration)
      : (DataFrame, Map[String, (Long, Long)]) = {
    if (idDefs.isEmpty) return (df0, Map.empty)
    val log = new TxnLog(tablePath, conf)
    var df = df0
    val cursors = scala.collection.mutable.Map.empty[String, (Long, Long)]
    idDefs.toSeq.sortBy(_._1).foreach { case (c, spec) =>
      val Array(startS, stepS) = spec.split(":", 2)
      val start = startS.toLong
      val step = stepS.toLong
      if (df.columns.contains(c)) {
        val nonNull = df.filter(col(c).isNotNull).count()
        if (nonNull > 0) throw new IllegalArgumentException(
          s"identity column violation at $tablePath: '$c' is GENERATED " +
            s"ALWAYS AS IDENTITY — explicit values are not allowed " +
            s"($nonNull rows)")
        df = df.drop(c)
      }
      val cursor = log.identityCursor(readVersion, c, start)
      cursors(c) = (cursor, step)
      val schema = df.schema
      df = spark.createDataFrame(
        df.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (cursor + step * i))
        },
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.LongType, nullable = false)))
    }
    (df, cursors.toMap)
  }

  /** The claim record for a commit that allocated identity values:
    * column → next unused value, from the staged files' exact row count.
    */
  private def identityClaims(
      cursors: Map[String, (Long, Long)],
      adds: Seq[AddFile]): Option[Map[String, Long]] =
    if (cursors.isEmpty) None
    else {
      val n = adds.flatMap(_.stats.map(_.numRecords)).sum
      Some(cursors.map { case (c, (cur, step)) => c -> (cur + step * n) })
    }

  /** A row VIOLATES a CHECK constraint only when the expression is
    * definitively false — NULL passes (SQL CHECK semantics).
    */
  private def constraintViolation(c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    not(coalesce(expr(c).cast("boolean"), lit(true)))
  }

  /** Fail loudly (naming every violated constraint with its row count)
    * if any row of `df` violates any CHECK constraint — one pass.
    */
  private[graft] def enforceConstraints(
      df: DataFrame,
      constraints: Seq[String],
      tablePath: String): Unit = {
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{count, when, lit}
    val counts = df.agg(
      count(when(constraintViolation(constraints.head), lit(1))),
      constraints.tail.map(c =>
        count(when(constraintViolation(c), lit(1)))): _*).head()
    val violated = constraints.zipWithIndex
      .map { case (c, i) => c -> counts.getLong(i) }
      .filter(_._2 > 0)
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint violation at $tablePath: " +
          violated.map { case (c, n) => s"'$c' ($n rows)" }.mkString(", "))
  }

  /** Expectation-with-quarantine append (the "expect or drop" pipeline
    * policy): rows violating ANY of the table's CHECK constraints are
    * ROUTED to a sidecar quarantine table — tagged with the violated
    * expressions — instead of failing the batch; clean rows append
    * normally. One classification pass over the batch, both writes are
    * normal versioned commits (the quarantine is itself a queryable,
    * time-travelable table — triage is a query, not a log grep).
    * Returns (accepted, quarantined) row counts.
    */
  def appendWithQuarantine(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      quarantinePath: String,
      commitTs: Long = System.currentTimeMillis()): (Long, Long) = {
    import org.apache.spark.sql.functions.{array, array_compact, col, lit, when}
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val constraints = log.latestVersion().map(_ => log.snapshotLatest()
      .metadata.map(_.constraints).getOrElse(Seq.empty))
      .getOrElse(Seq.empty)
    if (constraints.isEmpty) {
      val n = df.count()
      append(spark, df, tablePath, commitTs = commitTs)
      return (n, 0L)
    }
    val tagged = df.withColumn("_violated", array_compact(array(
      constraints.map(c =>
        when(constraintViolation(c), lit(c))): _*)))
    tagged.cache()
    try {
      val bad = tagged.filter(org.apache.spark.sql.functions
        .size(col("_violated")) > 0)
      val good = tagged.filter(org.apache.spark.sql.functions
        .size(col("_violated")) === 0).drop("_violated")
      val nBad = bad.count()
      val nGood = good.count()
      if (nBad > 0) {
        val qLog = new TxnLog(quarantinePath,
          spark.sessionState.newHadoopConf())
        val qDf = bad.withColumn("_violated",
          org.apache.spark.sql.functions.concat_ws(";", col("_violated")))
        if (qLog.latestVersion().isEmpty)
          write(spark, qDf, quarantinePath, version = 0L, commitTs = commitTs,
            operation = "QUARANTINE")
        else append(spark, qDf, quarantinePath, commitTs = commitTs)
      }
      if (nGood > 0) append(spark, good, tablePath, commitTs = commitTs)
      (nGood, nBad)
    } finally tagged.unpersist()
  }

  /** ADD CONSTRAINT: existing rows must already satisfy the expression
    * (validated in one scan), then the constraint commits as evolved
    * Metadata and every subsequent write enforces it.
    */
  def addConstraint(
      spark: SparkSession,
      tablePath: String,
      constraint: String,
      version: Long,
      commitTs: Long,
      name: Option[String] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    name.foreach(n => require(!m.constraintNames.contains(n),
      s"constraint '$n' already exists at $tablePath"))
    val bad = SnapshotReader.read(spark, tablePath)
      .filter(constraintViolation(constraint)).count()
    if (bad > 0)
      throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$constraint' at $tablePath: " +
          s"$bad existing rows violate it")
    log.commit(version, Seq(
      m.copy(constraints = m.constraints :+ constraint,
        constraintNames = m.constraintNames ++
          name.map(_ -> constraint).toMap),
      CommitInfo("ADD CONSTRAINT", commitTs)))
  }

  /** DROP CONSTRAINT by SQL name: removes the named expression from
    * both the enforcement list and the name map. Unknown name throws
    * unless `ifExists`.
    */
  def dropConstraint(
      spark: SparkSession,
      tablePath: String,
      name: String,
      ifExists: Boolean,
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    m.constraintNames.get(name) match {
      case None =>
        if (!ifExists) throw new IllegalArgumentException(
          s"no constraint named '$name' at $tablePath")
      case Some(expr0) =>
        // remove ONE occurrence of the expression (another named or
        // unnamed constraint with identical text keeps enforcing)
        val idx = m.constraints.indexOf(expr0)
        val remaining =
          if (idx < 0) m.constraints
          else m.constraints.patch(idx, Nil, 1)
        log.commit(version, Seq(
          m.copy(constraints = remaining,
            constraintNames = m.constraintNames - name),
          CommitInfo("DROP CONSTRAINT", commitTs)))
    }
  }

  /** Metadata-only RENAME COLUMN (Delta column-mapping, name mode): no
    * data file is touched — the commit re-declares the schema under the
    * new logical name and records logical→physical in the Metadata, so
    * every reader translates at the file boundary and renaming a 100 TB
    * table is one JSON commit. Demands Protocol(2, 2) like DVs: a reader
    * that ignored the mapping would silently surface the renamed column
    * as nulls (parquet by-name resolution), which is exactly the
    * corruption the protocol guard exists to prevent.
    *
    * Refused: partition columns (their names are baked into directory
    * layout and partitionValues), constraint-referenced columns (the
    * expression text would dangle), and any new name that collides with
    * another column's logical or physical spelling (the translation
    * would become ambiguous).
    */
  def renameColumn(
      spark: SparkSession,
      tablePath: String,
      oldName: String,
      newName: String,
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(schema.fieldNames.contains(oldName),
      s"no column '$oldName' at $tablePath")
    require(!schema.fieldNames.contains(newName),
      s"column '$newName' already exists at $tablePath")
    require(!m.partitionColumns.contains(oldName),
      s"cannot rename partition column '$oldName'")
    val word = ("\\b" + java.util.regex.Pattern.quote(oldName) + "\\b").r
    require(!m.constraints.exists(c => word.findFirstIn(c).isDefined),
      s"cannot rename '$oldName': referenced by a CHECK constraint")
    require(!m.generatedColumns.contains(oldName) &&
      !m.generatedColumns.values.exists(e => word.findFirstIn(e).isDefined),
      s"cannot rename '$oldName': it is a generated column or feeds one")
    val physical = ColumnMapping.physicalName(oldName, m.columnMapping)
    val otherPhysical = schema.fieldNames.filterNot(_ == oldName)
      .map(n => ColumnMapping.physicalName(n, m.columnMapping)).toSet
    require(!otherPhysical.contains(newName),
      s"'$newName' collides with another column's physical name")
    val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == oldName) f.copy(name = newName) else f))
    val newMapping = (m.columnMapping - oldName) ++
      (if (newName == physical) Map.empty[String, String]
       else Map(newName -> physical))
    val protocol: Seq[Action] =
      if (snap.protocol.exists(_.minReaderVersion >= 2)) Seq.empty
      else Seq(Protocol(2, 2))
    log.commit(version, protocol ++ Seq(
      m.copy(schemaJson = newSchema.json, columnMapping = newMapping),
      CommitInfo("RENAME COLUMN", commitTs)))
  }

  /** Every physical column name that may exist inside LIVE data files:
    * names declared by any SURVIVING historical Metadata (log scan) PLUS
    * the names each live file's footer stats actually recorded. The
    * second source matters after log retention: a metadata-only DROP
    * COLUMN leaves the bytes in files, and expiry can delete every
    * commit that mentioned the name — but the files' own stats still
    * carry it. Stats-less files contribute nothing (the residual gap:
    * a dropped column in a stats-less file whose declaring commits all
    * expired is undetectable from metadata alone).
    */
  private[graft] def physicalColumnsEver(
      log: TxnLog, snap: Snapshot): Set[String] = {
    val declared: Set[String] = log.changes(0L).flatMap {
      case (_, actions) => actions.collect {
        case hm: Metadata =>
          val sch = org.apache.spark.sql.types.DataType
            .fromJson(hm.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          ColumnMapping.physicalSchema(sch, hm.columnMapping)
            .fieldNames.toSeq
      }.flatten
    }.toSet
    val inFiles: Set[String] = snap.files.flatMap(_.stats.toSeq.flatMap(st =>
      st.minValues.keySet ++ st.maxValues.keySet ++
        st.nullCounts.keySet)).toSet
    declared ++ inFiles
  }

  /** SET / UNSET TBLPROPERTIES: one metadata commit; the values ride
    * the Metadata action, so they time-travel with the schema and
    * survive checkpoints. `graft.`-prefixed keys configure engine
    * behavior (auto-compaction reads them ahead of the session conf);
    * everything else is durable user storage.
    */
  def setTableProperties(
      spark: SparkSession,
      tablePath: String,
      set: Map[String, String],
      unset: Seq[String] = Seq.empty,
      version: Long = -1L,
      commitTs: Long = System.currentTimeMillis()): Unit = {
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    val v = if (version >= 0) version else snap.version + 1
    log.commit(v, Seq(
      m.copy(properties = m.properties -- unset ++ set),
      CommitInfo("SET TBLPROPERTIES", commitTs)))
  }

  /** Lossless widening conversions (the Delta type-widening set this
    * engine supports): every old value is exactly representable in the
    * new type, so a widened read can never change a query answer.
    */
  private[graft] def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  /** ALTER COLUMN TYPE — WIDENING ONLY (Delta's type widening): ONE
    * metadata commit re-declares the column's type; no data file is
    * rewritten. Old files keep their narrower physical encoding forever
    * and every reader upcasts at scan time: Spark 4's parquet reader —
    * behind the v1 scans and all three DSv2 sources — reads INT32 pages
    * under a declared LONG/DOUBLE schema natively. Narrowing and
    * lossy changes refuse — a long → int would silently corrupt.
    *
    * float→double additionally DROPS the column's min/max from every
    * live file's stats in the SAME commit (dataChange=false re-adds, a
    * file-count-sized metadata write): a float-origin max like "3.4"
    * parsed as double UNDER-states the true float value by half an ulp,
    * which would make data skipping and stats-only MIN/MAX unsound.
    * Integer-ladder and decimal widenings parse exactly — stats stay.
    */
  def widenColumnType(
      spark: SparkSession,
      tablePath: String,
      colName: String,
      newType: org.apache.spark.sql.types.DataType,
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val field = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$colName' at $tablePath"))
    require(isWidening(field.dataType, newType),
      s"ALTER COLUMN TYPE supports only lossless widening; " +
        s"${field.dataType.simpleString} -> ${newType.simpleString} " +
        "is not (rewrite the table to narrow or reshape)")
    require(!m.partitionColumns.contains(colName),
      s"cannot retype partition column '$colName': its directory values " +
        "were formatted under the old type")
    val evolved = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == colName) f.copy(dataType = newType) else f))
    val phys = ColumnMapping.physicalName(colName, m.columnMapping)
    val statsFix: Seq[Action] =
      if (field.dataType != org.apache.spark.sql.types.FloatType) Seq.empty
      else snap.files.filter(_.stats.exists(st =>
          st.minValues.contains(phys) || st.maxValues.contains(phys)))
        .flatMap { f =>
          val cleaned = f.copy(dataChange = false,
            stats = f.stats.map(st => st.copy(
              minValues = st.minValues - phys,
              maxValues = st.maxValues - phys)))
          Seq(RemoveFile(f.path, commitTs, f.partitionValues,
            dataChange = false), cleaned)
        }
    log.commit(version, Seq(
      m.copy(schemaJson = evolved.json)) ++ statsFix :+
      CommitInfo("ALTER COLUMN TYPE", commitTs))
  }

  /** ALTER COLUMN SET/DROP DEFAULT — metadata-only: the default rides
    * the schema's field metadata under Spark's own CURRENT_DEFAULT key,
    * so the analyzer (ResolveDefaultColumns) materializes it for every
    * later INSERT that omits the column or writes the DEFAULT keyword.
    * Existing rows are untouched (a default is a WRITE-side fill, never
    * a read-side rewrite — that's what generated columns are for).
    * `None` drops the default. The expression must be constant and
    * cast-compatible with the column; validated by evaluating the cast
    * once at DDL time, so a bad default fails here, not at first INSERT.
    */
  def setColumnDefault(
      spark: SparkSession,
      tablePath: String,
      colName: String,
      defaultSql: Option[String],
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val field = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$colName' at $tablePath"))
    require(!m.generatedColumns.contains(colName),
      s"'$colName' is GENERATED ALWAYS AS — it cannot also carry a " +
        s"DEFAULT at $tablePath")
    require(!m.identityColumns.contains(colName),
      s"'$colName' is GENERATED ALWAYS AS IDENTITY — it cannot carry " +
        s"a DEFAULT at $tablePath")
    defaultSql.foreach { sql =>
      // constant + cast check: one driver-side evaluation
      try spark.sql(s"SELECT CAST(($sql) AS ${field.dataType.sql})")
        .collect()
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"DEFAULT ($sql) is not a valid constant of type " +
            s"${field.dataType.simpleString} for '$colName': " +
            e.getMessage)
      }
    }
    val key = "CURRENT_DEFAULT"
    val evolved = org.apache.spark.sql.types.StructType(schema.fields.map {
      f =>
        if (f.name != colName) f
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          defaultSql match {
            case Some(sql) => mb.putString(key, sql)
            case None      => mb.remove(key)
          }
          f.copy(metadata = mb.build())
        }
    })
    log.commit(version, Seq(m.copy(schemaJson = evolved.json),
      CommitInfo("ALTER COLUMN DEFAULT", commitTs)))
  }

  /** Metadata-only DROP COLUMN (Delta column-mapping semantics): no
    * data file is touched — the commit re-declares the schema without
    * the column, and readers simply never project the files' physical
    * column again. Demands Protocol(2, 2) like rename: a mapping-blind
    * reader re-surfacing the column is the corruption the guard blocks.
    *
    * Refused: partition columns (directory layout), generated columns
    * and columns feeding one, and constraint-referenced columns (the
    * expression text would dangle). Re-ADDING a column with a dropped
    * name later must map it to a FRESH physical name or the old files'
    * data would resurrect — [[GraftCatalog.alterTable]]'s AddColumn
    * handles that via the historical-name scan.
    */
  def dropColumn(
      spark: SparkSession,
      tablePath: String,
      name: String,
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val m = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no table metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    require(schema.fieldNames.contains(name),
      s"no column '$name' at $tablePath")
    require(schema.fields.length > 1,
      s"cannot drop the only column '$name' at $tablePath")
    require(!m.partitionColumns.contains(name),
      s"cannot drop partition column '$name'")
    val word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    require(!m.constraints.exists(c => word.findFirstIn(c).isDefined),
      s"cannot drop '$name': referenced by a CHECK constraint")
    require(!m.generatedColumns.contains(name) &&
      !m.generatedColumns.values.exists(e => word.findFirstIn(e).isDefined),
      s"cannot drop '$name': it is a generated column or feeds one")
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    val protocol: Seq[Action] =
      if (snap.protocol.exists(_.minReaderVersion >= 2)) Seq.empty
      else Seq(Protocol(2, 2))
    log.commit(version, protocol ++ Seq(
      m.copy(schemaJson = newSchema.json,
        columnMapping = m.columnMapping - name),
      CommitInfo("DROP COLUMN", commitTs)))
  }

  /** Write `df`'s parquet files straight into the table tree and return
    * their AddFile actions (with footer-derived column stats for data
    * skipping) WITHOUT committing: the caller owns the commit. The tasks
    * write through [[TableCommitProtocol]], so nothing is staged, renamed
    * or re-opened on the driver. `meta` is the table's metadata at the
    * snapshot the write builds on (None for a new table): its column
    * mapping and `graft.optimizeWrite` property apply.
    */
  private[graft] def stageAndMove(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String],
      version: Long,
      commitTs: Long,
      dataChange: Boolean,
      meta: Option[Metadata]): Seq[AddFile] = {
    // Column mapping: files are ALWAYS written under physical names, so
    // appends/compactions/merges after a RENAME COLUMN stay consistent
    // with the files already on disk. Callers hand in logical frames;
    // this is the single point where every write path translates.
    // (Partition columns never map — renameColumn refuses them.)
    val physDf0 = ColumnMapping.toPhysical(df,
      meta.map(_.columnMapping).getOrElse(Map.empty))

    // Optimized write (`graft.optimizeWrite` table property, Delta's
    // optimizeWrite idea): ONE adaptive REBALANCE before the write sizes
    // output files at birth — N tiny upstream shuffle partitions (the
    // classic 32-shuffle-partitions × many-partition-values flood)
    // bin-pack to `spark.sql.adaptive.advisoryPartitionSizeInBytes`-
    // sized tasks, and a skewed partition value SPLITS instead of
    // funneling one giant file. AQE does the sizing from runtime map
    // statistics, so there is no extra count job or second computation
    // of the input. Partitioned tables rebalance ON the partition
    // columns, co-locating each value's rows so a task writes whole
    // files per value instead of a sliver of every value. Prevention at
    // write time; autoCompact stays the after-the-fact repair.
    val physDf = meta.flatMap(_.properties.get("graft.optimizeWrite"))
      .filter(_.equalsIgnoreCase("true"))
      .map { _ =>
        if (partitionBy.nonEmpty)
          physDf0.hint("rebalance", partitionBy.map(col): _*)
        else physDf0.hint("rebalance")
      }.getOrElse(physDf0)

    val protocol = new TableCommitProtocol(tablePath, f"part-$version%05d",
      java.util.UUID.randomUUID().toString.take(8))
    TableCommitProtocol.write(spark, physDf, partitionBy, protocol)
    protocol.addFiles(commitTs, dataChange)
  }

  /** Column stats from the parquet footer (no data read): row count plus
    * min/max for long/int/double/float/string columns across row groups.
    */
  private[graft] def footerStats(
      p: Path, conf: org.apache.hadoop.conf.Configuration): Option[FileStats] =
    footerStats(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))

  private[graft] def footerStats(
      in: org.apache.parquet.io.InputFile): Option[FileStats] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      var rows = 0L
      val mins = scala.collection.mutable.Map.empty[String, Any]
      val maxs = scala.collection.mutable.Map.empty[String, Any]
      val skip = scala.collection.mutable.Set.empty[String] // no usable stats
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val skipNulls = scala.collection.mutable.Set.empty[String]
      blocks.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { c =>
          if (c.getPath.size == 1) { // top-level primitives only
            val name = c.getPath.toDotString
            val st = c.getStatistics
            // null counts are INDEPENDENT of min/max usability: an
            // all-null column has no min/max but a perfectly good count
            if (st != null && !st.isEmpty && st.isNumNullsSet)
              nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
            else skipNulls += name
            if (st == null || st.isEmpty || !st.hasNonNullValue) skip += name
            else {
              val prim = c.getPrimitiveType
              val isString = prim.getLogicalTypeAnnotation != null &&
                prim.getLogicalTypeAnnotation.toString == "STRING"
              val mm: Option[(Any, Any, (Any, Any) => Boolean)] =
                prim.getPrimitiveTypeName match {
                  case INT64 => Some((st.genericGetMin, st.genericGetMax,
                    (a: Any, b: Any) => a.asInstanceOf[Long] < b.asInstanceOf[Long]))
                  case INT32 => Some((st.genericGetMin, st.genericGetMax,
                    (a: Any, b: Any) => a.asInstanceOf[Int] < b.asInstanceOf[Int]))
                  case DOUBLE => Some((st.genericGetMin, st.genericGetMax,
                    (a: Any, b: Any) => a.asInstanceOf[Double] < b.asInstanceOf[Double]))
                  case FLOAT => Some((st.genericGetMin, st.genericGetMax,
                    (a: Any, b: Any) => a.asInstanceOf[Float] < b.asInstanceOf[Float]))
                  case BINARY if isString => Some((
                    st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                    st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                    // UTF-8 byte order (= what a real scan's MIN/MAX uses via
                    // UTF8String), NOT Java's UTF-16 code-unit order — the two
                    // disagree for supplementary code points vs [U+E000,U+FFFF]
                    (a: Any, b: Any) =>
                      org.apache.spark.unsafe.types.UTF8String
                        .fromString(a.asInstanceOf[String])
                        .compareTo(org.apache.spark.unsafe.types.UTF8String
                          .fromString(b.asInstanceOf[String])) < 0))
                  case _ => None
                }
              mm match {
                case None => skip += name
                case Some((mn, mx, lt)) =>
                  mins(name) = mins.get(name).filter(m => lt(m, mn)).getOrElse(mn)
                  maxs(name) = maxs.get(name).filter(m => lt(mx, m)).getOrElse(mx)
              }
            }
          }
        }
      }
      skip.foreach { n => mins -= n; maxs -= n }
      skipNulls.foreach { n => nulls -= n }
      // Cap string bounds (Delta's dataSkippingStringPrefixLength idea):
      // a multi-KB document text would otherwise land VERBATIM — twice —
      // in every AddFile log line, and at 100 TB the transaction log
      // becomes a copy of the corpus' extremes. Truncation stays SOUND
      // for file skipping: the min truncates to a prefix (≤ every value
      // in UTF-8 order), the max truncates and INCREMENTS its last code
      // point (> every value with that prefix; UTF-8 encoding is
      // code-point-order-preserving, so the byte comparison agrees).
      // A file with any truncated bound commits tight=false — the
      // stats-only MIN/MAX aggregate answer refuses strings there, the
      // same contract Convert uses for foreign-truncated footers.
      var truncated = false
      def cpPrefix(s: String, n: Int): String =
        s.substring(0, s.offsetByCodePoints(0, n))
      def truncMin(s: String): String =
        if (s.codePointCount(0, s.length) <= StatsStringCap) s
        else { truncated = true; cpPrefix(s, StatsStringCap) }
      def truncMax(s: String): Option[String] = {
        if (s.codePointCount(0, s.length) <= StatsStringCap) return Some(s)
        truncated = true
        val p = cpPrefix(s, StatsStringCap).codePoints().toArray
        var i = p.length - 1
        while (i >= 0) {
          val next = p(i) + 1 match {
            // the surrogate block is unencodable as lone code points —
            // jump past it (every scalar in [E000, ...] is > any in it)
            case c if c >= 0xD800 && c <= 0xDFFF => 0xE000
            case c => c
          }
          if (next <= 0x10FFFF) {
            val out = p.take(i + 1); out(i) = next
            return Some(new String(out, 0, out.length))
          }
          i -= 1 // last code point was U+10FFFF — carry left
        }
        None // all-U+10FFFF prefix: no finite upper bound at this length
      }
      val cappedMins = mins.map {
        case (k, s: String) => k -> truncMin(s)
        case (k, v)         => k -> v.toString
      }.toMap
      val cappedMaxs = maxs.flatMap {
        case (k, s: String) => truncMax(s).map(k -> _)
        case (k, v)         => Some(k -> v.toString)
      }.toMap
      Some(FileStats(rows, cappedMins, cappedMaxs,
        tight = !truncated, nullCounts = nulls.toMap))
    } catch {
      case _: Exception => None // stats are an optimization, never fatal
    } finally reader.close()
  }

  /** Compact multi-file partitions into one file each (bin-packing) as a
    * reorganization commit: new AddFiles and old RemoveFiles all carry
    * dataChange=false, so CDC readers emit NOTHING for it while snapshot
    * and time-travel state move to the compacted layout — the OPTIMIZE
    * half of the small-files story. One distributed job (repartition by
    * the partition columns), never a per-partition driver loop.
    */
  /** @param clusterBy sort-cluster the compacted output on this column
    *        (unpartitioned tables): range-partitioned into `targetFiles`
    *        files with disjoint value ranges, so the footer stats become
    *        maximally selective for [[DataSkipping]] — the OPTIMIZE …
    *        ZORDER-lite analog for one dimension.
    * @param minFileBytes only files SMALLER than this are compaction
    *        candidates (Delta's OPTIMIZE policy): already-large files
    *        keep their paths, so repeated OPTIMIZE runs converge instead
    *        of rewriting the whole table each time.
    * @param zorderBy columns (≥2) to Morton-cluster (OPTIMIZE … ZORDER
    *        BY): every output file gets a bounded hyper-rectangle in
    *        EVERY listed dimension, so stats prune on any of them.
    *        Overrides clusterBy.
    * @param partitionPred OPTIMIZE … WHERE: only partitions matching the
    *        predicate (over partition values) are candidates — on a
    *        100 TB table maintenance targets the hot slice (yesterday's
    *        ingest) without touching cold partitions' files.
    */
  def compact(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      commitTs: Long,
      clusterBy: Option[String] = None,
      targetFiles: Int = 1,
      minFileBytes: Long = Long.MaxValue,
      zorderBy: Seq[String] = Seq.empty,
      partitionPred: Option[Map[String, String] => Boolean] = None,
      // Bin-packing bound (Delta OPTIMIZE's maxFileSize): a partition
      // whose candidate bytes exceed this rewrites into
      // ceil(bytes/maxFileBytes) files instead of ONE. Without it a
      // 100 TB table's hot partition compacts through a single task
      // into a single giant file — the exact skew OPTIMIZE exists to
      // fix. Long.MaxValue keeps the historic one-file-per-partition
      // behavior.
      maxFileBytes: Long = Long.MaxValue): Seq[AddFile] = {
    import org.apache.spark.sql.functions.col
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    // Declared clustering (Metadata.clusterBy) applies whenever the
    // caller passed NO explicit layout — OPTIMIZE maintains the
    // table's own layout by default, the liquid-clustering contract
    val metaCluster = snap.metadata.map(_.clusterBy).getOrElse(Seq.empty)
    val (effZorder, effCluster) =
      if (zorderBy.nonEmpty || clusterBy.isDefined) (zorderBy, clusterBy)
      else if (metaCluster.size >= 2) (metaCluster, None)
      else if (metaCluster.size == 1)
        (Seq.empty, Some(metaCluster.head.stripPrefix("hilbert:")))
      else (zorderBy, clusterBy)
    // DV-carrying files are ALWAYS candidates (even alone in their
    // partition): compaction is where deletion vectors get folded back
    // into plain files, and the rewrite below reads through the DV
    // filter so dead rows stay dead
    val inScope: Map[String, String] => Boolean =
      partitionPred.getOrElse(_ => true)
    val candidates = snap.files
      .filter(f => inScope(f.partitionValues))
      .filter(f => f.size < minFileBytes || f.dv.isDefined)
    val doomed = candidates
      .groupBy(_.partitionValues)
      .filter { case (_, fs) => fs.size > 1 || fs.exists(_.dv.isDefined) }
      .values.flatten.toSeq
    if (doomed.isEmpty) return Seq.empty
    // Id-preserving rewrite: when any doomed file carries stable row
    // ids, MATERIALIZE them as a physical `_graft_row_id` column in the
    // rewritten files (physical column from an earlier rewrite wins,
    // else base + raw position) — the DSv2 reader prefers the physical
    // column, so compaction never renumbers a row. Declared-schema
    // reads are unaffected: their pinned schema ignores the extra
    // column.
    val src =
      if (!doomed.exists(_.baseRowId.isDefined))
        readDeclared(spark, tablePath, snap, doomed)
      else {
        import org.apache.spark.sql.functions.{broadcast, coalesce}
        import spark.implicits._
        val declared = snap.metadata.map(m =>
          org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        val augmented = declared.map(s => org.apache.spark.sql.types.StructType(
          s.fields :+ org.apache.spark.sql.types.StructField(
            TxnLog.RowIdColumn, org.apache.spark.sql.types.LongType)))
        val base = DeletionVectors.readFiles(spark, tablePath, doomed,
          augmented, withRowMeta = true,
          mapping = snap.metadata.map(_.columnMapping).getOrElse(Map.empty))
        val bases = doomed
          .map(f => (new Path(f.path).getName,
            f.baseRowId.map(java.lang.Long.valueOf).orNull))
          .toDF("_fn", "_base")
        base.join(broadcast(bases), Seq("_fn"), "left")
          .withColumn(TxnLog.RowIdColumn,
            coalesce(col(TxnLog.RowIdColumn), col("_base") + col("_ri")))
          .drop("_fn", "_ri", "_path", "_base")
      }
    val packed = (partCols, effZorder, effCluster) match {
      case (pcs, _, _) if pcs.nonEmpty && maxFileBytes < Long.MaxValue =>
        // size-aware bin-packing: each partition gets
        // ceil(candidate bytes / maxFileBytes) writer tasks, salted by
        // a row hash: a skewed partition fans out, a small one stays
        // single-file. The salt map is partition-count-sized (a literal
        // map expression, so it ships with the plan). Salt groups that
        // hash-collide into one task merge, so the bound is approximate
        // (bounded overshoot), like Delta OPTIMIZE's.
        import org.apache.spark.sql.functions.{coalesce, concat_ws,
          element_at, lit, pmod, typedLit, xxhash64}
        val sep = "\u0001"
        val nul = "\u0000"
        val binsOf: Map[String, Int] = doomed
          .groupBy(_.partitionValues)
          .map { case (pv, fs) =>
            pcs.map(c => pv.getOrElse(c, nul)).mkString(sep) ->
              math.max(1, math.ceil(
                fs.map(_.size).sum.toDouble / maxFileBytes).toInt)
          }
        val keyExpr = concat_ws(sep,
          pcs.map(c => coalesce(col(c).cast("string"), lit(nul))): _*)
        val binCount =
          coalesce(element_at(typedLit(binsOf), keyExpr), lit(1))
        val salt = pmod(xxhash64(src.columns.map(col).toIndexedSeq: _*),
          binCount.cast("long"))
        // range partitioning over (partition key, salt) with EXACTLY
        // the total bin count: every (partition, salt) group lands in
        // its own task, immune to the hash collisions plain
        // repartition() would suffer at small bin counts
        src.repartitionByRange(math.max(1, binsOf.values.sum),
          (pcs.map(col) :+ salt): _*)
      case (_, zs, _) if zs.size >= 2 =>
        // curve selection: "hilbert:" prefix on the first column picks
        // the Hilbert index (consecutive codes are Manhattan-1
        // neighbors — fewer files per range query than Morton)
        val hilbert = zs.head.startsWith("hilbert:")
        val zcols = if (hilbert) zs.head.stripPrefix("hilbert:") +: zs.tail
          else zs
        val curved = if (hilbert) ZOrder.withHilbert(src, zcols)
          else ZOrder.withZ(src, zcols)
        curved
          .repartitionByRange(math.max(1, targetFiles), col("_z"))
          .sortWithinPartitions(col("_z"))
          .drop("_z")
      case (_, _, Some(c)) =>
        src.repartitionByRange(math.max(1, targetFiles), col(c))
          .sortWithinPartitions(col(c))
      case _ => src.coalesce(1)
    }
    val adds = stageAndMove(spark, packed, tablePath, partCols, version,
      commitTs, dataChange = false, snap.metadata)
    val removes = doomed.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues, dataChange = false))
    log.commit(version, (removes ++ adds) :+ CommitInfo("OPTIMIZE", commitTs))
    adds
  }

  /** Delete data files no longer referenced by the LATEST snapshot whose
    * removal is older than `retainMillis`, plus ORPHANS — data files on
    * disk never referenced by any commit (a writer that crashed after
    * staging but before committing) whose modification time is past the
    * horizon (Delta's VACUUM semantics: time travel and CDC replay to
    * versions before the horizon stop working — that is the documented
    * trade for reclaiming storage; the retention window is what keeps an
    * IN-FLIGHT writer's freshly staged files safe).
    * Returns the deleted relative paths.
    */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      retainMillis: Long,
      nowMillis: Long,
      dryRun: Boolean = false): Seq[String] = {
    import org.apache.spark.sql.functions.{get_json_object, lit, max, when,
      struct, regexp_extract}
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val latestSnap = log.snapshotLatest()
    // DV dirs referenced by the LATEST snapshot are protected; superseded
    // or purged vectors age out past the horizon like removed data files
    // (same documented trade: time travel past the horizon stops working)
    val liveDv = latestSnap.files.flatMap(_.dv).toSet
    val cutoff = nowMillis - retainMillis
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)

    // ---- action history as DATAFRAMES: checkpoint base + commit tail.
    // The base is the newest parquet checkpoint, read DISTRIBUTED — it
    // carries the live adds, the remove tombstones younger than the
    // tombstone retention, and the cdc references, so vacuum never
    // replays the whole log and never holds every-path-ever maps on the
    // driver. The tail (≤ checkpointInterval commits, or the whole
    // retained log when the vacuum window outlives the tombstones —
    // conservative full replay, never unsafe) is driver-parsed: it is
    // bounded by construction.
    val cp: Option[Long] = log.checkpointVersions().lastOption
    val cpRaw: Option[DataFrame] = cp.map { cv =>
      spark.read.parquet(log.checkpointPaths(cv).map(_.toString): _*)
    }
    // a PRE-FEATURE checkpoint (no tombstone marker) must not be
    // trusted as "no removals" — fall back to replaying the whole
    // retained log (the old cost, once; the next checkpoint carries
    // the marker)
    val cpHasTombstones = cpRaw.exists(df =>
      !df.filter(col("kind") === "tombstones").isEmpty)
    val tailFrom: Long =
      if (cpHasTombstones && retainMillis <= log.tombstoneRetentionMillis)
        cp.map(_ + 1).getOrElse(0L)
      else 0L
    val baseDf: Option[DataFrame] = cpRaw.map { raw =>
      raw.filter(col("kind").isin("add", "remove", "cdc"))
        .select(
          col("kind"),
          coalesce(
            get_json_object(col("json"), "$.add.path"),
            get_json_object(col("json"), "$.remove.path"),
            get_json_object(col("json"), "$.cdc.path")).as("path"),
          get_json_object(col("json"), "$.remove.deletionTimestamp")
            .cast("long").as("rts"),
          lit(cp.get).as("v"))
    }
    val tailRows: Seq[(String, String, Option[Long], Long)] =
      log.changes(tailFrom).flatMap { case (v, actions) =>
        actions.flatMap {
          case a: AddFile    => Some(("add", a.path, None, v))
          case r: RemoveFile =>
            Some(("remove", r.path, Some(r.deletionTimestamp), v))
          case c: CdcFile    => Some(("cdc", c.path, None, v))
          case _             => None
        }
      }.toSeq
    val tailDf = tailRows.toDF("kind", "path", "rts", "v")
    val acts = baseDf.map(_.unionByName(tailDf)).getOrElse(tailDf)

    // per-path verdict: a path whose newest REMOVE outranks its newest
    // ADD is a tombstoned file, reclaimable once its removal timestamp
    // passes the horizon. A DV re-commit (remove + re-add, same version)
    // lands lastAdd == lastRem — live, retained. External
    // (shallow-clone-imported) paths belong to the SOURCE table — the
    // clone's vacuum must never reach outside its root.
    val perPath = acts.filter(col("kind").isin("add", "remove"))
      .groupBy(col("path"))
      .agg(
        max(when(col("kind") === "add", col("v"))).as("lastAdd"),
        max(when(col("kind") === "remove",
          struct(col("v"), col("rts")))).as("lastRem"))
    // external test shares TxnLog.isExternal (the ONE rule every read
    // site resolves through) — an inline re-statement could silently
    // diverge and reach outside a clone's root
    val isExt = org.apache.spark.sql.functions.udf(
      (p: String) => TxnLog.isExternal(p))
    val reclaimDf = perPath
      .filter(col("lastRem").isNotNull &&
        (col("lastAdd").isNull || col("lastRem.v") > col("lastAdd")) &&
        col("lastRem.rts") <= cutoff && !isExt(col("path")))
      .select(col("path").as("rel"))
    val referencedDf = acts.select(col("path").as("rel")).distinct()

    // ---- orphan sweep: on-disk parquet never referenced by the log,
    // past the mtime horizon. The LISTING runs in executor tasks (one
    // per top-level directory, recursive within) — a million-file table
    // lists as a cluster job, never a single-threaded driver walk.
    val rootEntries =
      if (fs.exists(table)) fs.listStatus(table).toSeq else Seq.empty
    val tableUriStr = fs.makeQualified(table).toUri.toString
    def keepDir(name: String): Boolean =
      name != "_txn_log" && !name.startsWith(".")
    val subDirs = rootEntries
      .filter(st => st.isDirectory && keepDir(st.getPath.getName))
      .map(_.getPath.toString)
    val rootFiles = rootEntries
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getModificationTime))
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val listedDf =
      if (subDirs.isEmpty) rootFiles.toDF("rel", "mtime")
      else spark.sparkContext
        .parallelize(subDirs, math.max(1, math.min(subDirs.size, 64)))
        .flatMap { d =>
          val p = new Path(d)
          val dfs = p.getFileSystem(serConf.value)
          val base = java.net.URI.create(tableUriStr)
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          def walk(dir: Path): Unit = dfs.listStatus(dir).foreach { st =>
            val name = st.getPath.getName
            if (st.isDirectory) { if (keepDir(name)) walk(st.getPath) }
            else if (name.endsWith(".parquet"))
              out += ((base.relativize(dfs.makeQualified(st.getPath).toUri)
                .getPath, st.getModificationTime))
          }
          walk(p)
          out
        }.toDF("rel", "mtime")
        .unionByName(rootFiles.toDF("rel", "mtime"))
    // classification joins: DV sidecars are protected while the LATEST
    // snapshot points at their dir; the latest bloom build is always
    // protected (it prunes live reads); everything else is protected
    // while the checkpoint+tail history references it.
    val latestBloom = BloomIndex.latestBuild(spark, tablePath)
    // ANALYZE `_stats` builds are never log actions, so — like the bloom
    // index — the LATEST build is protected (the CBO prunes live reads
    // with it) and superseded ones age out past the horizon
    val latestStats = Analyze.latestBuild(spark, tablePath)
    val candidates = listedDf.filter(col("mtime") <= cutoff)
      .withColumn("parent", regexp_extract(col("rel"), "^(.*)/[^/]+$", 1))
    val dvOrphans = candidates.filter(col("rel").startsWith("_dv/"))
      .join(liveDv.toSeq.toDF("dir"), col("parent") === col("dir"),
        "left_anti")
    val bloomOrphans = candidates.filter(col("rel").startsWith("_bloom/"))
      .filter(col("parent") =!= lit(latestBloom.getOrElse("")))
    val statsOrphans = candidates.filter(col("rel").startsWith("_stats/"))
      .filter(col("parent") =!= lit(latestStats.getOrElse("")))
    // change-data sidecars honor the CdcFile contract: protected while
    // their commit is STILL IN THE LOG (the version is in the filename
    // — an O(1) test, no replay), released to the mtime rule only once
    // expireLog drops the commit. Unparseable names fall back to the
    // referenced rule.
    val earliestRetained: Long = log.versions().headOption.getOrElse(0L)
    val cdcCand = candidates.filter(col("rel").startsWith("_change_data/"))
      .withColumn("cdcV", expr( // try_cast: a non-matching extract is ''
        "try_cast(regexp_extract(rel, '^_change_data/cd-([0-9]+)-', 1) " +
          "AS long)"))
    val cdcOrphans = cdcCand
      .filter(col("cdcV").isNotNull && col("cdcV") < earliestRetained)
      .unionByName(cdcCand.filter(col("cdcV").isNull)
        .join(referencedDf, Seq("rel"), "left_anti"))
      .drop("cdcV")
    val dataOrphans = candidates
      .filter(!col("rel").startsWith("_dv/") &&
        !col("rel").startsWith("_bloom/") &&
        !col("rel").startsWith("_stats/") &&
        !col("rel").startsWith("_change_data/"))
      .join(referencedDf, Seq("rel"), "left_anti")
    val orphansDf = dvOrphans.select("rel")
      .unionByName(bloomOrphans.select("rel"))
      .unionByName(statsOrphans.select("rel"))
      .unionByName(cdcOrphans.select("rel"))
      .unionByName(dataOrphans.select("rel"))

    // stale STAGING leftovers: only deletion vectors (`.staging-dv-*`,
    // renamed into place on success) and row-level handles
    // (`.staging-rlh-*`, dropped after the commit) are staged now — a
    // crash before the commit strands the directory, and the dot-dir
    // skip above would otherwise hide it from the sweep forever. Age by
    // the NEWEST file inside the dir (an object store's dir mtime can be
    // creation time — a long-running statement still writing must not
    // lose its staging mid-flight); an empty dir falls back to its own
    // mtime.
    val staleStaging: Seq[String] = rootEntries
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(".staging-"))
      .filter { st =>
        val inner = fs.listStatus(st.getPath)
        val newest =
          if (inner.isEmpty) st.getModificationTime
          else inner.map(_.getModificationTime).max
        newest <= cutoff
      }
      .map(_.getPath.getName)

    // the collect is the API contract (callers get the reclaimed list);
    // it is bounded by the reclaim size, and the DELETES below run as a
    // cluster job, not a driver loop
    val doomed = (reclaimDf.unionByName(orphansDf).distinct()
      .as[String].collect().toSeq ++ staleStaging).distinct.sorted
    // DRY RUN: report what WOULD be reclaimed, delete nothing — the
    // operator's answer to "is my retention window about to eat a
    // version someone still time-travels to"
    if (dryRun) return doomed
    if (doomed.nonEmpty) {
      val tbl = tablePath
      spark.sparkContext
        .parallelize(doomed, math.max(1, math.min(doomed.size, 64)))
        .foreach { p =>
          val dp = new Path(tbl, p)
          dp.getFileSystem(serConf.value).delete(dp, p.startsWith(".staging-"))
        }
    }
    // drop emptied DV directories so the _dv namespace doesn't
    // accumulate husks of reclaimed vectors (recursive: local
    // filesystems leave .crc shadows behind the deleted parquet)
    doomed.filter(p => p.startsWith("_dv/") || p.startsWith("_bloom/") ||
        p.startsWith("_stats/"))
      .map(p => new Path(tablePath, p).getParent).distinct
      .foreach { d =>
        if (fs.exists(d) &&
            !fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet")))
          fs.delete(d, true)
      }
    doomed
  }

  /** Append with automatic version assignment, retrying on a concurrent
    * commit (optimistic concurrency: re-resolve the next version and
    * re-commit the same already-staged intent — here re-staged, which is
    * safe because staging is side-effect-free until commit succeeds).
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      commitTs: Long = System.currentTimeMillis(),
      maxAttempts: Int = 3): Long = {
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    var attempt = 0
    while (true) {
      // one snapshot per attempt: the write, its checks and the
      // auto-compaction switch all read it
      val base = log.latestVersion().map(log.snapshot)
      val next = base.fold(0L)(_.version + 1)
      // Follow the table's CURRENT partition spec unless the caller
      // pins one — after setPartitioning, plain appends land in the
      // evolved layout (Delta/Iceberg semantics). Resolved inside the
      // retry loop: a concurrent setPartitioning must win.
      val effSpec =
        if (partitionBy.nonEmpty) partitionBy
        else base.flatMap(_.metadata).fold(partitionBy)(_.partitionColumns)
      try {
        val meta = writeOn(spark, df, tablePath, base, effSpec,
          version = next, commitTs = commitTs, operation = "WRITE")
        maybeAutoCompact(spark, tablePath,
          meta.fold(Map.empty[String, String])(_.properties))
        return next
      } catch {
        case e: IllegalStateException if e.getMessage.contains("concurrent") =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** Idempotent append (Delta's txnAppId/txnVersion writer options):
    * the batch lands IFF `txnVersion` is newer than the snapshot's
    * recorded [[SetTxn]] for `appId` — the data and the marker commit
    * atomically, so a replayed epoch (foreachBatch retry, restarted
    * job) SKIPS instead of duplicating, with no landed-data-without-
    * marker window. Returns Some(committed version) or None when
    * skipped. The manual-offset-management sibling of the streaming
    * sink's epoch tracking and COPY INTO's per-file markers.
    */
  def appendIdempotent(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      appId: String,
      txnVersion: Long,
      commitTs: Long = System.currentTimeMillis(),
      maxAttempts: Int = 3): Option[Long] = {
    require(appId.nonEmpty, "appId must be non-empty")
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    // same bounded retry as append(): a benign concurrent writer must not
    // turn an idempotent append into a hard failure. The marker check
    // re-runs against the FRESH snapshot each attempt — if the concurrent
    // committer was a replay of this very (appId, txnVersion), the retry
    // sees its marker and skips, which is the whole point of the contract.
    var attempt = 0
    while (true) {
      val snap = log.snapshotLatest()
      if (snap.txns.get(appId).exists(_ >= txnVersion)) return None
      val next = snap.version + 1
      try {
        write(spark, df, tablePath,
          partitionBy =
            snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty),
          version = next, commitTs = commitTs,
          operation = "IDEMPOTENT APPEND",
          extraActions = Seq(SetTxn(appId, txnVersion, commitTs)))
        return Some(next)
      } catch {
        case e: IllegalStateException if e.getMessage.contains("concurrent") =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    None // unreachable
  }

  /** Opt-in auto-compaction (Delta's autoOptimize.autoCompact): after a
    * successful append, if the live snapshot holds more than
    * `spark.graft.autoCompact.minFiles` (default 16) files smaller than
    * `spark.graft.autoCompact.targetFileMB` (default 64), fold them
    * with a dataChange=false compaction commit. BEST-EFFORT by design:
    * the append already committed, so a compaction failure (e.g. a
    * concurrent writer winning the next version) logs and moves on —
    * the small files just wait for the next append or an explicit
    * OPTIMIZE. Off unless `spark.graft.autoCompact.enabled=true`: a
    * write path that silently doubles its commits should be a choice.
    * `props` are the table's properties as of the append's commit; a
    * fresh snapshot is read only when auto-compaction is on.
    */
  private def maybeAutoCompact(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Unit =
    // the WHOLE pass is best-effort — the append already committed, so
    // nothing here may surface as a write failure: not a compaction
    // race, and not a malformed persisted property (a bad
    // graft.autoCompact.minFiles would otherwise brick every append
    // until someone fixes the table property)
    try {
      // TABLE properties take precedence over the session conf (the
      // Delta convention: the owner's declaration beats a job's default)
      def opt(key: String): Option[String] = props.get(s"graft.$key")
        .orElse(spark.conf.getOption(s"spark.graft.$key"))
      if (!opt("autoCompact.enabled").exists(_.equalsIgnoreCase("true")))
        return
      val snap = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
        .snapshotLatest()
      val minFiles = opt("autoCompact.minFiles").map(_.toInt).getOrElse(16)
      val targetBytes = opt("autoCompact.targetFileMB").map(_.toLong)
        .getOrElse(64L) * 1024L * 1024L
      val small = snap.files.count(_.size < targetBytes)
      if (small <= minFiles) return
      compact(spark, tablePath, version = snap.version + 1,
        commitTs = System.currentTimeMillis(),
        minFileBytes = targetBytes, maxFileBytes = targetBytes)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] auto-compaction of $tablePath skipped: ${e.getMessage}")
    }

  /** Blind append with Delta-style REBASE on commit collision: the data
    * job runs ONCE (files staged under attempt-unique names against the
    * snapshot read at entry), then the commit loop re-reads the LOG on
    * each collision and re-commits the SAME AddFile actions at the next
    * free version. Appends commute with any interleaved commit that
    * leaves metadata and protocol unchanged — so under contention the
    * loser pays a metadata re-read, never a second pass over the data.
    * At 100 TB that is the difference between a millisecond retry and
    * re-shuffling the batch once per concurrent writer.
    *
    * A concurrent Metadata/Protocol commit (schema evolution, constraint
    * or generated-column change, RENAME COLUMN, partition-spec change,
    * protocol upgrade) breaks commutativity: the staged files are
    * deleted and IllegalStateException("concurrent metadata change")
    * is thrown — wrap with [[OptimisticTxn.retrying]]-style re-execution
    * if automatic fallback is wanted. Returns the committed version.
    */
  def appendRebasing(
      spark: SparkSession,
      df0: DataFrame,
      tablePath: String,
      commitTs: Long = 0L,
      operation: String = "APPEND",
      maxAttempts: Int = 20,
      // seam for deterministic interleaving tests: runs after the data
      // files are staged, before the commit loop first reads the log
      onStaged: () => Unit = () => ()): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val readVersion = log.latestVersion().getOrElse(
      throw new IllegalArgumentException(
        s"appendRebasing requires an existing table at $tablePath " +
          "(initial writes use write())"))
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val meta = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no Metadata action at $tablePath"))

    // same write-path rules as write(), validated against the snapshot
    // read at entry (an interleaved rule change fails the commit loop)
    val genDefs = meta.generatedColumns
    val df = genDefs.foldLeft(df0) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        // NULL-supplied values compute: SQL `INSERT INTO t (a, b)` fills
        // the omitted generated column with NULL before the writer sees
        // it, which must behave like omission, not like a violation. A
        // NON-null disagreeing value still rejects (Delta semantics).
        val filled = d.withColumn(c,
          coalesce(col(c), expr(e).cast(d.schema(c).dataType)))
        val bad = filled.filter(!(col(c) <=> expr(e))).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"generated column violation at $tablePath: '$c' disagrees with " +
            s"GENERATED ALWAYS AS ($e) on $bad rows")
        filled
      }
    }
    val declared = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // identity columns allocate from the cursor at the READ version; a
    // concurrent allocation is detected in the commit loop and FAILS
    // (rebasing would mint duplicate values)
    val (dfId, idCursors) = fillIdentity(spark, df, meta.identityColumns,
      tablePath, readVersion, conf)
    val dfW =
      if (meta.identityColumns.isEmpty) dfId
      else dfId.select(declared.fieldNames.map(col).toIndexedSeq: _*)
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(declared) != shape(dfW.schema))
      throw new IllegalArgumentException(
        s"schema enforcement: append schema ${dfW.schema.simpleString} " +
          s"does not match the table schema at $tablePath")
    enforceConstraints(dfW, meta.constraints, tablePath)

    // write ONCE — `version` only seeds unique file names
    val adds = stageAndMove(spark, dfW, tablePath, meta.partitionColumns,
      readVersion + 1, commitTs, dataChange = true, Some(meta))

    def dropStaged(): Unit = {
      val fs = new Path(tablePath).getFileSystem(conf)
      adds.foreach(a =>
        fs.delete(new Path(TxnLog.dataPath(tablePath, a.path)), false))
    }

    onStaged()

    // commit loop: verify commutativity over every interleaved commit,
    // then race for the next version
    var checked = readVersion
    var attempt = 0
    while (true) {
      val latest = log.latestVersion().getOrElse(readVersion)
      var v = checked + 1
      while (v <= latest) {
        val actionsV = log.read(v)
        val unsafe = actionsV.exists {
          case _: Metadata | _: Protocol => true
          case _ => false
        }
        if (unsafe) {
          dropStaged()
          throw new IllegalStateException(
            s"concurrent metadata change at $tablePath v$v — rebase " +
              "unsafe; re-execute the append against the new snapshot")
        }
        // identity claim conflict: an interleaved commit allocated from
        // the same cursor this append read — rebasing over it would
        // mint DUPLICATE identity values, so fail loudly instead
        if (idCursors.nonEmpty && actionsV.exists {
            case ci: CommitInfo =>
              ci.identityHighWater.exists(m => idCursors.keys.exists(m.contains))
            case _ => false
          }) {
          dropStaged()
          throw new IllegalStateException(
            s"concurrent identity allocation at $tablePath v$v — " +
              "re-execute the append against the new snapshot")
        }
        v += 1
      }
      checked = latest
      try {
        log.commit(latest + 1, adds :+ CommitInfo(operation, commitTs,
          identityHighWater = identityClaims(idCursors, adds)))
        return latest + 1
      } catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.startsWith("concurrent commit") =>
          attempt += 1
          if (attempt > maxAttempts) { dropStaged(); throw e }
          Thread.sleep(1L + scala.util.Random.nextInt(8))
      }
    }
    -1L // unreachable
  }

  /** Full-table OVERWRITE (truncate + load) as one atomic commit: every
    * live file of the read snapshot is removed and the new frame's files
    * added in the SAME version — readers see the old table or the new
    * one, never a mix. Retries the version race like append; the commit
    * replays against the snapshot current at each attempt so an
    * interleaved append's files are removed too (INSERT OVERWRITE
    * semantics: the overwrite wins over everything before it).
    */
  def overwriteAll(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      commitTs: Long = System.currentTimeMillis(),
      maxAttempts: Int = 5): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    require(log.latestVersion().isDefined,
      s"overwriteAll requires an existing table at $tablePath")
    var attempt = 0
    while (true) {
      val snap = log.snapshotLatest()
      val next = log.latestVersion().get + 1
      val removes: Seq[Action] = snap.files.map(f =>
        RemoveFile(f.path, commitTs, f.partitionValues))
      val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
      try {
        write(spark, df, tablePath, partCols, version = next,
          commitTs = commitTs, operation = "OVERWRITE",
          extraActions = removes)
        return next
      } catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("concurrent") =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** Predicate-scoped OVERWRITE (Delta's `replaceWhere`): ONE atomic
    * commit that deletes every row matching `pred` and inserts `df` —
    * the idempotent backfill / partition-reload primitive. Every
    * incoming row must satisfy the predicate (refused otherwise: an
    * overwrite that writes outside its declared scope turns a re-run
    * into silent data corruption). Files with no matching row keep
    * their paths, so re-loading one day of a 100 TB table rewrites only
    * that day's files; rows of partially-matching files whose predicate
    * is NOT TRUE (false or NULL) survive the rewrite. CHECK constraints
    * and generated columns validate on the incoming frame through the
    * same rules as append; dataChange=true — the churn is real CDC.
    */
  def replaceWhere(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      pred: org.apache.spark.sql.Column,
      version: Long,
      commitTs: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val meta = snap.metadata
    val partCols = meta.map(_.partitionColumns).getOrElse(Seq.empty)
    require(meta.forall(_.identityColumns.isEmpty),
      s"replaceWhere on a table with identity columns is not supported " +
        s"at $tablePath — identity allocation belongs to append/MERGE")
    // Generated columns compute-or-validate on the INCOMING frame (the
    // survivors already carry validated values from their own writes).
    val genDefs = meta.map(_.generatedColumns).getOrElse(Map.empty)
    val filled = genDefs.foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        val f = d.withColumn(c,
          coalesce(col(c), expr(e).cast(d.schema(c).dataType)))
        val bad = f.filter(!(col(c) <=> expr(e))).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"generated column violation at $tablePath: '$c' disagrees " +
            s"with GENERATED ALWAYS AS ($e) on $bad rows")
        f
      }
    }
    val declared = meta.map(m =>
      org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    declared.foreach { d =>
      require(d.fieldNames.toSet == filled.columns.toSet,
        s"replaceWhere schema ${filled.schema.simpleString} does not " +
          s"match the table schema at $tablePath")
    }
    val aligned = declared
      .map(d => filled.select(d.fieldNames.toIndexedSeq.map(col): _*))
      .getOrElse(filled)
    val outside = aligned.filter(!(pred <=> lit(true))).count()
    require(outside == 0,
      s"replaceWhere: $outside incoming rows do not satisfy the " +
        s"predicate at $tablePath")
    enforceConstraints(aligned,
      meta.map(_.constraints).getOrElse(Seq.empty), tablePath)
    // Affected-file discovery, DV-aware — same shape as deleteWhere:
    // only file NAMES reach the driver.
    val tableQ = {
      val p = new Path(tablePath)
      p.getFileSystem(conf).makeQualified(p)
    }
    val byRel = snap.files.map(f => new Path(tableQ, f.path).toString
      .replaceFirst("^file:/+", "/") -> f).toMap
    val masks = Some(DeletionVectors.masks(spark, tablePath, snap.files))
    val target = DeletionVectors
      .readSnapshot(spark, tablePath, snap, withRowMeta = true, masks)
      .withColumnRenamed("_path", "_file")
    val affected = DeletionVectors.distinctValues(target.filter(pred), "_file")
      .toSeq.sorted.flatMap(byRel.get).toIndexedSeq
    val combined =
      if (affected.isEmpty) aligned
      else readDeclared(spark, tablePath, snap, affected, masks)
        .filter(!(pred <=> lit(true)))
        .unionByName(aligned)
    // Change data feed (Delta writes CDF for replaceWhere too): a slice
    // swap's honest change record — every pred-IS-TRUE target row
    // deletes, every incoming row inserts (same complement rule as
    // mergeFullSync, so feed and state cannot diverge)
    val cdcActions: Seq[Action] =
      if (!ChangeDataFeed.enabled(snap)) Seq.empty
      else {
        import ChangeDataFeed.{TypeCol, Insert, Delete}
        val dead =
          if (affected.isEmpty) None
          else Some(readDeclared(spark, tablePath, snap, affected, masks)
            .filter(pred <=> lit(true))
            .withColumn(TypeCol, lit(Delete)))
        val ins = aligned.withColumn(TypeCol, lit(Insert))
        ChangeDataFeed.stage(spark, dead.fold(ins)(_.unionByName(ins)),
          tablePath, version, partitionColumns = partCols)
      }
    val adds = stageAndMove(spark, combined, tablePath, partCols, version,
      commitTs, dataChange = true, snap.metadata)
    val removes = affected.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues))
    log.commit(version,
      (removes ++ adds) ++ cdcActions :+ CommitInfo("REPLACE WHERE", commitTs))
  }

  /** Dynamic partition overwrite (`writeTo(...).overwritePartitions()`,
    * `partitionOverwriteMode=dynamic`): replace exactly the partitions
    * PRESENT in the incoming frame, leave every other partition's files
    * untouched — the nightly re-materialization shape where the job
    * itself decides which days it recomputed. The doomed file set comes
    * from the LOG's partition values (metadata-only discovery: no data
    * file is opened to decide what to remove).
    */
  def overwritePartitionsDynamic(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      version: Long,
      commitTs: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    require(partCols.nonEmpty,
      s"dynamic partition overwrite needs a partitioned table at " +
        s"$tablePath — use INSERT OVERWRITE for full replacement")
    // Incoming partition tuples, canonicalized the same way the writer
    // routes them (string form, null → hive sentinel) so the match is
    // exact against AddFile.partitionValues.
    val incoming = df.select(partCols.map(c =>
        coalesce(col(c).cast("string"),
          org.apache.spark.sql.functions.lit("__HIVE_DEFAULT_PARTITION__"))
          .as(c)): _*)
      .distinct().collect()
      .map(r => partCols.map(c => c -> r.getAs[String](c)).toMap)
      .toSet
    val doomed = snap.files.filter(f =>
      incoming.contains(partCols.map(c =>
        c -> f.partitionValues.getOrElse(c, "__HIVE_DEFAULT_PARTITION__"))
        .toMap))
    val removes: Seq[Action] = doomed.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues))
    // Change data feed (Delta covers overwrite too): the replaced
    // partitions' live rows delete, the incoming frame inserts — exact
    // rows, DV-applied, split per partition for action-level pruning
    val cdcActions: Seq[Action] =
      if (!ChangeDataFeed.enabled(snap)) Seq.empty
      else {
        import ChangeDataFeed.{TypeCol, Insert, Delete}
        val dead =
          if (doomed.isEmpty) None
          else Some(readDeclared(spark, tablePath, snap,
              doomed.toIndexedSeq)
            .withColumn(TypeCol, lit(Delete)))
        val ins = df.withColumn(TypeCol, lit(Insert))
        ChangeDataFeed.stage(spark, dead.fold(ins)(_.unionByName(ins)),
          tablePath, version, partitionColumns = partCols)
      }
    write(spark, df, tablePath, partCols, version = version,
      commitTs = commitTs, operation = "OVERWRITE PARTITIONS",
      extraActions = removes ++ cdcActions)
  }

  /** Partition evolution (metadata-only, Iceberg's headline trick):
    * change the partition spec of FUTURE writes without touching a byte
    * of existing data. Earlier generations keep their layout; the
    * snapshot reader scans per generation and merges, and file-level
    * pruning reads hive partition values where footer stats don't carry
    * the column. Repartitioning a 100 TB table becomes one JSON commit;
    * OPTIMIZE migrates old files to the current spec incrementally.
    */
  def setPartitioning(
      spark: SparkSession,
      tablePath: String,
      partitionBy: Seq[String],
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val meta = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    partitionBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column '$c' not in schema at $tablePath")
      // hive dirs carry the partition column's NAME; a mapped (renamed)
      // column writes physical names into files but logical dirs would
      // desync — refuse, same rule as renameColumn's inverse
      require(!meta.columnMapping.contains(c),
        s"cannot partition by mapped (renamed) column '$c'")
    }
    log.commit(version, Seq(
      meta.copy(partitionColumns = partitionBy),
      CommitInfo("SET PARTITIONING", commitTs)))
  }

  /** Declare the table's clustering columns (the Delta liquid-
    * clustering ALTER ... CLUSTER BY surface): one metadata commit;
    * from then on an argument-less OPTIMIZE maintains this layout.
    * First column may carry the "hilbert:" curve prefix. Empty clears.
    */
  def setClusterBy(
      spark: SparkSession,
      tablePath: String,
      cols: Seq[String],
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val meta = snap.metadata.getOrElse(throw new IllegalStateException(
      s"no metadata at $tablePath"))
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    cols.map(_.stripPrefix("hilbert:")).foreach { c =>
      require(schema.fieldNames.contains(c),
        s"cluster column '$c' not in schema at $tablePath")
      require(!meta.partitionColumns.contains(c),
        s"cluster column '$c' is a partition column — clustering " +
          "orders WITHIN files, partitioning routes BETWEEN them")
    }
    log.commit(version, Seq(
      meta.copy(clusterBy = cols),
      CommitInfo("SET CLUSTER BY", commitTs)))
  }

  /** MERGE / upsert at file granularity: rows of `source` replace target
    * rows with the same key; unmatched source rows append. Only files
    * that actually CONTAIN a matched key are rewritten — untouched files
    * keep their paths (the property that makes MERGE affordable at
    * 100 TB, where a key batch touches a sliver of the table). Affected
    * files are discovered distributed-side via `_metadata.file_path`
    * (a semi-join; only file NAMES reach the driver), their surviving
    * rows anti-join the keys, and the rewrite commits RemoveFile+AddFile
    * with dataChange=true — CDC sees the churned files, as an upsert
    * should.
    */
  def mergeUpsert(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      keyCols: Seq[String],
      version: Long,
      commitTs: Long,
      operation: String = "MERGE",
      autoMergeSchema: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, lit, regexp_replace}
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    // MERGE SCHEMA EVOLUTION (Delta's schema.autoMerge): source-only
    // columns evolve the table schema in the SAME commit as the merged
    // data — untouched files surface them as null (the q112 read-side
    // evolution contract), rewritten files carry real values. Off by
    // default: a typo'd column name silently widening a production
    // schema should be a choice. Re-using a HISTORICALLY DECLARED name
    // refuses (metadata-only DROP COLUMN leaves old bytes in files —
    // the catalog's ADD COLUMN mints a fresh physical name for that
    // case; MERGE keeps its fast path honest instead of duplicating it).
    val declared = snap.metadata.map(m =>
      org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val extraFields: Seq[org.apache.spark.sql.types.StructField] =
      declared.map(d => source.schema.fields.toSeq
        .filterNot(f => d.fieldNames.contains(f.name))).getOrElse(Seq.empty)
    require(extraFields.isEmpty || autoMergeSchema,
      s"MERGE source carries columns absent from the table schema: " +
        s"${extraFields.map(_.name).mkString(", ")} — pass " +
        "autoMergeSchema=true to evolve, or drop them")
    // evolution adds columns, never relaxes the whole-row replacement
    // contract: a source missing a DECLARED column would silently
    // null-fill every matched row under allowMissingColumns
    val missingDeclared = declared.map(_.fieldNames.toSeq
      .filterNot(source.schema.fieldNames.contains)).getOrElse(Seq.empty)
    require(extraFields.isEmpty || missingDeclared.isEmpty,
      s"MERGE source must carry every declared column; missing: " +
        s"${missingDeclared.mkString(", ")}")
    if (extraFields.nonEmpty) {
      val historicalPhysical = physicalColumnsEver(log, snap)
      extraFields.foreach(f => require(!historicalPhysical.contains(f.name),
        s"column '${f.name}' was declared by a historical schema — " +
          "its bytes may survive in live files; use ALTER TABLE ADD " +
          "COLUMNS (which mints a fresh physical name) before merging"))
    }
    val byRel = {
      val tableQ = {
        val p = new Path(tablePath)
        p.getFileSystem(conf).makeQualified(p)
      }
      snap.files.map(f => new Path(tableQ, f.path).toString
        .replaceFirst("^file:/+", "/") -> f).toMap
    }
    // reads go through the DV filter — an upsert against a DV table must
    // not resurrect (or re-match) already-deleted rows
    val masks = Some(DeletionVectors.masks(spark, tablePath, snap.files))
    val target = DeletionVectors
      .readSnapshot(spark, tablePath, snap, withRowMeta = true, masks)
      .withColumnRenamed("_path", "_file")
    val srcKeys = source.select(keyCols.map(col): _*).distinct()
    val affectedPaths = DeletionVectors.distinctValues( // bounded by |files|
      target.join(srcKeys, keyCols, "left_semi"), "_file").toSeq.sorted
    val affected = affectedPaths.flatMap(byRel.get)

    val survivors =
      if (affected.isEmpty) source
      else readDeclared(spark, tablePath, snap, affected.toIndexedSeq, masks)
        .join(srcKeys, keyCols, "left_anti")
        // with evolution, survivors lack the source-only columns — they
        // fill as null, same as every untouched file will read
        .unionByName(source, allowMissingColumns = extraFields.nonEmpty)
    // MERGE introduces new/updated rows — CHECK constraints apply to the
    // source side (survivors already passed when first written)
    enforceConstraints(source,
      snap.metadata.map(_.constraints).getOrElse(Seq.empty), tablePath)
    // Change data feed: matched target rows are the preimages, their
    // source replacements the postimages, unmatched source rows inserts.
    // Under duplicate source keys the pre/post sets are NOT 1:1 pairs —
    // they are the exact dying and arriving row sets, which is the
    // whole-row-replacement contract this MERGE implements. One extra
    // scan of the AFFECTED files only; proportional to the touched
    // sliver, never the table.
    val cdcActions: Seq[Action] =
      if (!ChangeDataFeed.enabled(snap)) Seq.empty
      else {
        import ChangeDataFeed.{TypeCol, Insert, UpdatePre, UpdatePost}
        val evolving = extraFields.nonEmpty
        val changes =
          if (affected.isEmpty) source.withColumn(TypeCol, lit(Insert))
          else {
            val pre = readDeclared(spark, tablePath, snap,
                affected.toIndexedSeq, masks)
              .join(srcKeys, keyCols, "left_semi")
            val matchedKeys = pre.select(keyCols.map(col): _*).distinct()
            val post = source.join(matchedKeys, keyCols, "left_semi")
            val ins = source.join(matchedKeys, keyCols, "left_anti")
            pre.withColumn(TypeCol, lit(UpdatePre))
              .unionByName(post.withColumn(TypeCol, lit(UpdatePost)),
                allowMissingColumns = evolving)
              .unionByName(ins.withColumn(TypeCol, lit(Insert)),
                allowMissingColumns = evolving)
          }
        ChangeDataFeed.stage(spark, changes, tablePath, version,
          partitionColumns = partCols)
      }
    val adds = stageAndMove(spark, survivors, tablePath, partCols, version,
      commitTs, dataChange = true, snap.metadata)
    val removes = affected.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues)).toIndexedSeq
    val metaAction: Seq[Action] =
      if (extraFields.isEmpty) Seq.empty
      else {
        val evolved = org.apache.spark.sql.types.StructType(
          declared.get.fields ++
            extraFields.map(_.copy(nullable = true)))
        Seq(snap.metadata.get.copy(schemaJson = evolved.json))
      }
    log.commit(version,
      metaAction ++ (removes ++ adds) ++ cdcActions :+
        CommitInfo(operation, commitTs))
  }

  /** MERGE full-sync: make the SCOPE slice of the table equal the source
    * exactly — `WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT, WHEN NOT
    * MATCHED BY SOURCE [AND scope] DELETE`, the shape of a partition /
    * date-range re-load. Rows outside `scope` are untouched and their
    * files keep their paths — the scope predicate is what keeps the
    * affected-file set proportional to the re-loaded slice instead of
    * the whole 100 TB table (an unscoped NOT-MATCHED-BY-SOURCE delete
    * would have to rewrite every file by definition). Affected files are
    * discovered with the same `_metadata`-style semi-join as
    * [[mergeUpsert]]; reads go through the DV filter so already-deleted
    * rows neither survive nor re-match. Every source row must satisfy
    * `scope` — silently syncing rows outside the declared slice would
    * corrupt the untouched-files invariant, so violations throw.
    */
  def mergeFullSync(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      scope: org.apache.spark.sql.Column,
      version: Long,
      commitTs: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    val tableQ = {
      val p = new Path(tablePath)
      p.getFileSystem(conf).makeQualified(p)
    }
    val byRel = snap.files.map(f => new Path(tableQ, f.path).toString
      .replaceFirst("^file:/+", "/") -> f).toMap
    // a NULL-scope source row is NOT in scope (3VL) — it must refuse,
    // or it would land outside the declared slice
    val outOfScope = source.filter(!(scope <=> lit(true))).count()
    require(outOfScope == 0L,
      s"mergeFullSync: $outOfScope source rows fall outside the sync " +
        s"scope at $tablePath — the scope predicate must cover the source")
    val masks = Some(DeletionVectors.masks(spark, tablePath, snap.files))
    val target = DeletionVectors
      .readSnapshot(spark, tablePath, snap, withRowMeta = true, masks)
      .withColumnRenamed("_path", "_file")
    val affected = DeletionVectors.distinctValues(target.filter(scope), "_file")
      .toSeq.sorted.flatMap(byRel.get)
    // in-scope target rows all die (matched ones are replaced by their
    // source version, unmatched-by-source ones are deleted); survivors
    // of an affected file are its NOT-in-scope rows — scope IS TRUE
    // dies, FALSE **and NULL** survive (the deleteWhere 3VL rule):
    // `not(scope)` would drop NULL-scope rows from affected files while
    // identical rows in untouched files survive — row fate must never
    // depend on file layout
    val survivors =
      if (affected.isEmpty) source
      else readDeclared(spark, tablePath, snap, affected.toIndexedSeq, masks)
        .filter(!(scope <=> lit(true)))
        .unionByName(source)
    enforceConstraints(source,
      snap.metadata.map(_.constraints).getOrElse(Seq.empty), tablePath)
    // Change data feed: full-sync is a slice swap, and its honest change
    // record is exactly that — every in-scope (scope IS TRUE) target row
    // deletes, every source row inserts (there is no key identity here
    // to pair pre/post images on). Dead = exactly NOT survivor, the same
    // 3VL expression complemented, so feed and state cannot diverge.
    val cdcActions: Seq[Action] =
      if (!ChangeDataFeed.enabled(snap)) Seq.empty
      else {
        import ChangeDataFeed.{TypeCol, Insert, Delete}
        val dead =
          if (affected.isEmpty) None
          else Some(readDeclared(spark, tablePath, snap, affected.toIndexedSeq, masks)
            .filter(scope <=> lit(true))
            .withColumn(TypeCol, lit(Delete)))
        val ins = source.withColumn(TypeCol, lit(Insert))
        ChangeDataFeed.stage(spark,
          dead.fold(ins)(_.unionByName(ins)), tablePath, version,
          partitionColumns = partCols)
      }
    val adds = stageAndMove(spark, survivors, tablePath, partCols, version,
      commitTs, dataChange = true, snap.metadata)
    val removes = affected.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues)).toIndexedSeq
    log.commit(version,
      (removes ++ adds) ++ cdcActions :+
        CommitInfo("MERGE_FULL_SYNC", commitTs))
  }

  /** Row-level DELETE WHERE: rewrites only the files containing matching
    * rows (same affected-file discovery as [[mergeUpsert]]); files with
    * no match keep their paths. dataChange=true — the churn is real CDC.
    */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      pred: org.apache.spark.sql.Column,
      version: Long,
      commitTs: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, regexp_replace}
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    val tableQ = {
      val p = new Path(tablePath)
      p.getFileSystem(conf).makeQualified(p)
    }
    val byRel = snap.files.map(f => new Path(tableQ, f.path).toString
      .replaceFirst("^file:/+", "/") -> f).toMap
    // the vectors' masks load once for every read of the statement
    val masks = Some(DeletionVectors.masks(spark, tablePath, snap.files))
    val target = DeletionVectors
      .readSnapshot(spark, tablePath, snap, withRowMeta = true, masks)
      .withColumnRenamed("_path", "_file")
    val affected = DeletionVectors.distinctValues(target.filter(pred), "_file")
      .toSeq.sorted.flatMap(byRel.get)
    if (affected.isEmpty) {
      log.commit(version, Seq(CommitInfo("DELETE", commitTs)))
      return
    }
    // SQL DELETE deletes rows where pred IS TRUE; a row whose predicate
    // evaluates NULL (e.g. `x > 5` with null x) survives. `!pred` alone
    // would map NULL → NULL and silently drop those rows at rewrite.
    val base = readDeclared(spark, tablePath, snap, affected.toIndexedSeq, masks)
    val survivors = base
      .filter(!(pred <=> org.apache.spark.sql.functions.lit(true)))
    // Change data feed: the exact deleted rows (pred IS TRUE — the same
    // 3VL rule the rewrite uses, so feed and state can never disagree)
    val cdcActions: Seq[Action] =
      if (!ChangeDataFeed.enabled(snap)) Seq.empty
      else ChangeDataFeed.stage(spark,
        base.filter(pred <=> org.apache.spark.sql.functions.lit(true))
          .withColumn(ChangeDataFeed.TypeCol, lit(ChangeDataFeed.Delete)),
        tablePath, version, partitionColumns = partCols)
    val adds = stageAndMove(spark, survivors, tablePath, partCols, version,
      commitTs, dataChange = true, snap.metadata)
    val removes = affected.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues)).toIndexedSeq
    log.commit(version,
      (removes ++ adds) ++ cdcActions :+ CommitInfo("DELETE", commitTs))
  }

  /** Row-level UPDATE WHERE: rewrite only the files that CONTAIN a
    * matching row (same affected-file discovery as DELETE), applying
    * `set` expressions to matching rows and keeping the rest byte-
    * identical in value. Completes the DML family (MERGE upserts by
    * key; this updates by predicate). dataChange=true: the churned
    * files are real CDC. CHECK constraints re-validate the updated
    * rows — an UPDATE must not be a constraint bypass.
    */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      version: Long,
      commitTs: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val meta = snap.metadata
    val partCols = meta.map(_.partitionColumns).getOrElse(Seq.empty)
    val schemaCols = meta.map(m =>
      org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet)
      .getOrElse(Set.empty[String])
    set.keys.foreach(c => require(schemaCols.contains(c),
      s"UPDATE SET on unknown column '$c' at $tablePath"))
    set.keys.foreach(c => require(!partCols.contains(c),
      s"UPDATE SET on partition column '$c' would move rows across " +
        s"partitions; use MERGE at $tablePath"))
    val tableQ = {
      val p = new Path(tablePath)
      p.getFileSystem(conf).makeQualified(p)
    }
    val byRel = snap.files.map(f => new Path(tableQ, f.path).toString
      .replaceFirst("^file:/+", "/") -> f).toMap
    val masks = Some(DeletionVectors.masks(spark, tablePath, snap.files))
    val target = DeletionVectors
      .readSnapshot(spark, tablePath, snap, withRowMeta = true, masks)
      .withColumnRenamed("_path", "_file")
    val affected = DeletionVectors.distinctValues(target.filter(pred), "_file")
      .toSeq.sorted.flatMap(byRel.get)
    if (affected.isEmpty) {
      log.commit(version, Seq(CommitInfo("UPDATE", commitTs)))
      return
    }
    // SQL UPDATE semantics: every SET expression AND the predicate see
    // the OLD row — stage all new values first, swap in one pass
    val base = readDeclared(spark, tablePath, snap, affected.toIndexedSeq, masks)
    val staged = set.toSeq.zipWithIndex.foldLeft(base) {
      case (d, ((c, e), i)) =>
        d.withColumn(s"_upd_$i", when(pred, e).otherwise(col(c)))
    }
    val rewritten = set.toSeq.zipWithIndex.foldLeft(staged) {
      case (d, ((c, _), i)) => d.withColumn(c, col(s"_upd_$i"))
    }.drop(set.toSeq.indices.map(i => s"_upd_$i"): _*)
    enforceConstraints(rewritten,
      meta.map(_.constraints).getOrElse(Seq.empty), tablePath)
    // Change data feed: preimages are the matching rows as read, the
    // postimages those same rows with the SET expressions applied — the
    // identical stage-then-swap evaluation the rewrite uses (every SET
    // sees the OLD row), so image and state cannot diverge.
    val cdcActions: Seq[Action] =
      if (!ChangeDataFeed.enabled(snap)) Seq.empty
      else {
        import ChangeDataFeed.{TypeCol, UpdatePre, UpdatePost}
        val preRows = base.filter(pred)
        val stagedPost = set.toSeq.zipWithIndex.foldLeft(preRows) {
          case (d, ((_, e), i)) => d.withColumn(s"_upd_$i", e)
        }
        val postRows = set.toSeq.zipWithIndex.foldLeft(stagedPost) {
          case (d, ((c, _), i)) => d.withColumn(c, col(s"_upd_$i"))
        }.drop(set.toSeq.indices.map(i => s"_upd_$i"): _*)
        ChangeDataFeed.stage(spark,
          preRows.withColumn(TypeCol, lit(UpdatePre))
            .unionByName(postRows.withColumn(TypeCol, lit(UpdatePost))),
          tablePath, version, partitionColumns = partCols)
      }
    val adds = stageAndMove(spark, rewritten, tablePath, partCols, version,
      commitTs, dataChange = true, snap.metadata)
    val removes = affected.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues)).toIndexedSeq
    log.commit(version,
      (removes ++ adds) ++ cdcActions :+ CommitInfo("UPDATE", commitTs))
  }

  /** The file set under the table's DECLARED schema, column mapping
    * applied — rewrite paths (compact / merge / delete) must see logical
    * names, like every other reader.
    */
  private def readDeclared(
      spark: SparkSession,
      tablePath: String,
      snap: Snapshot,
      files: Seq[AddFile],
      masks: Option[DeletionVectors.Masks] = None): DataFrame =
    DeletionVectors.readFiles(spark, tablePath, files,
      snap.metadata.map(m =>
        org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType]),
      withRowMeta = false,
      mapping = snap.metadata.map(_.columnMapping).getOrElse(Map.empty),
      masks = masks)

  /** RESTORE the table to the live-file state it had at `toVersion`, as
    * a NEW commit (history is preserved; Delta's RESTORE semantics): the
    * diff removes files added since and re-adds files removed since.
    * dataChange=true — a restore is a real data change and CDC shows it.
    */
  /** RESTORE ... TO TIMESTAMP: resolves the greatest commit at-or-before
    * `tsMillis` (strict — a timestamp before the first commit errors,
    * matching time-travel reads) and restores to it. Returns the
    * resolved version.
    */
  def restoreToTimestamp(
      spark: SparkSession,
      tablePath: String,
      tsMillis: Long,
      version: Long,
      commitTs: Long): Long = {
    val log = new TxnLog(tablePath, spark.sessionState.newHadoopConf())
    val v = log.versionAtTimestamp(tsMillis)
    restore(spark, tablePath, v, version, commitTs)
    v
  }

  def restore(
      spark: SparkSession,
      tablePath: String,
      toVersion: Long,
      version: Long,
      commitTs: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val current = log.snapshotLatest()
    TxnLog.assertWritable(current, tablePath)
    val target = log.snapshot(toVersion)
    val currentByPath = current.files.map(f => f.path -> f).toMap
    val targetByPath = target.files.map(f => f.path -> f).toMap
    val removes = current.files.filterNot(f => targetByPath.contains(f.path))
      .map(f => RemoveFile(f.path, commitTs, f.partitionValues))
    // re-add a file when it is absent from the current state OR its
    // deletion-vector pointer differs (same path, different live rows —
    // path identity alone would silently keep the wrong vector)
    val adds = target.files.filter(f =>
        currentByPath.get(f.path).forall(c => c.dv != f.dv))
      .map(_.copy(modificationTime = commitTs, dataChange = true))
    // re-adding a vacuumed file would corrupt the snapshot — fail loudly
    val fs = new Path(tablePath).getFileSystem(conf)
    adds.foreach { a =>
      if (!fs.exists(new Path(tablePath, a.path)))
        throw new IllegalStateException(
          s"cannot restore to $toVersion: ${a.path} was vacuumed")
    }
    // ... and so would re-adding a DV POINTER whose sidecar dir vacuum
    // reclaimed (superseded vectors age out like removed data files):
    // the restore would commit fine and every later read would fail on
    // the missing _dv path.
    adds.flatMap(_.dv).distinct.foreach { d =>
      if (!fs.exists(new Path(tablePath, d)))
        throw new IllegalStateException(
          s"cannot restore to $toVersion: deletion vector $d was vacuumed")
    }
    val metaAction: Seq[Action] =
      if (target.metadata != current.metadata) target.metadata.toSeq else Seq.empty
    log.commit(version,
      metaAction ++ removes ++ adds :+ CommitInfo("RESTORE", commitTs))
  }

  /** Shallow clone (Delta CLONE semantics): ZERO-COPY — version 0 of the
    * destination references the source snapshot's data files by absolute
    * path, so cloning a 100 TB table is one metadata commit. History
    * starts fresh; later writes/deletes/compactions stage clone-local
    * files (copy-on-write divergence), and the clone's VACUUM never
    * deletes external (source-owned) files. Operational contract, same
    * as Delta: the source must not vacuum files a live clone references.
    *
    * Partitioned sources clone as-is: partition values live in the LOG's
    * AddFile.partitionValues (readers never re-infer them from paths),
    * so external files keep their partitions and later clone-local
    * appends land in the clone's own hive layout. DV-carrying snapshots
    * clone by absolutizing the DV pointer the same way as the data path
    * — the sidecar stays source-owned and read-only; a clone-local
    * DELETE stages a NEW clone-local vector (never touching the
    * source's), exactly like data-file copy-on-write.
    * Returns the cloned source version.
    */
  def cloneShallow(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      commitTs: Long,
      versionAsOf: Option[Long] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val srcLog = new TxnLog(srcPath, conf)
    val snap = versionAsOf.map(srcLog.snapshot).getOrElse(srcLog.snapshotLatest())
    // reading through the clone demands whatever the source demanded
    snap.protocol.foreach(p => TxnLog.assertReadable(p, srcPath))
    val srcP = new Path(srcPath)
    val srcAbs = srcP.getFileSystem(conf).makeQualified(srcP).toUri.getPath
    // a path the SOURCE already imported (chained clone: A → B → C)
    // stays as-is — prefixing an absolute path would commit pointers
    // to nonexistent '/B//A/…' locations
    def absolutize(rel: String): String =
      if (TxnLog.isExternal(rel)) rel else s"$srcAbs/$rel"
    val adds = snap.files.map(f =>
      f.copy(path = absolutize(f.path), modificationTime = commitTs,
        dataChange = true,
        dv = f.dv.map(absolutize)))
    val dstLog = new TxnLog(dstPath, conf)
    if (dstLog.latestVersion().isDefined)
      throw new IllegalStateException(s"clone destination $dstPath not empty")
    dstLog.commit(0L,
      snap.metadata.toSeq ++ snap.protocol.toSeq ++ adds :+
        CommitInfo("CLONE", commitTs))
    snap.version
  }

  /** DEEP clone (Delta's `CREATE TABLE ... DEEP CLONE`): an INDEPENDENT
    * physical copy — every live data file's bytes, and the DV sidecar
    * directories the snapshot's pointers reference, copy into the
    * destination's own tree; version 0 of the destination commits the
    * same logical state under LOCAL paths. The disaster-recovery /
    * dev-copy op: the source may vacuum, expire its log, or vanish
    * afterwards without touching the clone. Deep-cloning a SHALLOW
    * clone fully materializes it — external (source-owned) pointers
    * localize, data and vectors alike.
    *
    * The byte copy is DISTRIBUTED: one task per file over a
    * parallelized file list (executor-side FileSystem copy) — a 100 TB
    * clone is a cluster-wide copy job, never a driver loop over bytes.
    * Row-tracking base ids, footer stats, partition values, column
    * mapping, constraints, and properties all carry over verbatim.
    * Returns the cloned source version.
    */
  def cloneDeep(
      spark: SparkSession,
      srcPath: String,
      dstPath: String,
      commitTs: Long,
      versionAsOf: Option[Long] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val srcLog = new TxnLog(srcPath, conf)
    val snap = versionAsOf.map(srcLog.snapshot)
      .getOrElse(srcLog.snapshotLatest())
    snap.protocol.foreach(p => TxnLog.assertReadable(p, srcPath))
    val dstLog = new TxnLog(dstPath, conf)
    if (dstLog.latestVersion().isDefined)
      throw new IllegalStateException(s"clone destination $dstPath not empty")

    // destination-relative path per file: local files keep their layout;
    // external (shallow-clone-imported) files localize under their hive
    // partition dir with an ordinal prefix — two same-named imports from
    // different source roots must not collide
    def hiveDir(f: AddFile): String = {
      val segs = new Path(f.path).getParent.toString.split('/')
        .filter(_.contains('='))
      if (segs.isEmpty) "" else segs.mkString("", "/", "/")
    }
    val dataPairs = snap.files.zipWithIndex.map { case (f, i) =>
      val rel =
        if (!TxnLog.isExternal(f.path)) f.path
        else s"${hiveDir(f)}ext-$i-${new Path(f.path).getName}"
      (f, rel)
    }
    // distinct DV dirs → local names (relative pointers keep theirs;
    // absolute imported ones get a fresh local dir under _dv/)
    val dvMap: Map[String, String] = snap.files.flatMap(_.dv).distinct
      .zipWithIndex.map { case (d, i) =>
        d -> (if (!TxnLog.isExternal(d)) d
              else f"_dv/clone-ext-$i%05d")
      }.toMap
    // DV sidecars key dead rows by data-file BASENAME — localizing an
    // external file under an 'ext-$i-' prefix changes its basename, so
    // the copied vectors' file_name column must be rewritten to the new
    // names or every deleted row of an imported file silently resurrects
    // in the clone. Two imports sharing a basename fan one sidecar row
    // out to both new names (the pointer join keys on (name, dir), so a
    // duplicated row binds only to the file whose AddFile points here).
    // a LOCAL file may share a basename with an external import — its
    // sidecar rows must keep the original name in the fan-out, or its
    // deleted rows would resurrect while the import's stay dead
    val localNames: Set[String] = dataPairs
      .collect { case (f, _) if !TxnLog.isExternal(f.path) =>
        new Path(f.path).getName }.toSet
    val renames: Map[String, Seq[String]] = dataPairs
      .filter { case (f, _) => TxnLog.isExternal(f.path) }
      .groupBy { case (f, _) => new Path(f.path).getName }
      .map { case (old, ps) =>
        old -> (ps.map(p => new Path(p._2).getName) ++
          (if (localNames(old)) Seq(old) else Seq.empty)) }
    val dvPairs: Seq[(String, String)] =
      if (renames.nonEmpty) Seq.empty // rewritten below, not byte-copied
      else dvMap.toSeq.flatMap {
        case (srcDir, dstDir) =>
          val p = new Path(TxnLog.dataPath(srcPath, srcDir))
          p.getFileSystem(conf).listStatus(p)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(st => (st.getPath.toString,
              s"$dstDir/${st.getPath.getName}"))
      }
    val copies: Seq[(String, String)] =
      dataPairs.map { case (f, rel) =>
        (TxnLog.dataPath(srcPath, f.path), rel) } ++ dvPairs
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    val dst = dstPath
    if (copies.nonEmpty)
      spark.sparkContext
        .parallelize(copies, math.max(1, math.min(copies.size, 64)))
        .foreach { case (srcAbs, rel) =>
          val sp = new Path(srcAbs)
          val dp = new Path(dst, rel)
          val sfs = sp.getFileSystem(serConf.value)
          val dfs = dp.getFileSystem(serConf.value)
          dfs.mkdirs(dp.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(
              sfs, sp, dfs, dp, false, true, serConf.value))
            throw new java.io.IOException(s"copy failed: $srcAbs -> $dp")
        }
    // basename-rewriting DV materialization (external imports present):
    // each sidecar dir re-writes with file_name mapped through `renames`
    // (rows for local files pass through untouched). Distributed via the
    // normal parquet write path; sidecar dirs are KB-to-MB-scale.
    if (renames.nonEmpty && dvMap.nonEmpty) {
      import org.apache.spark.sql.functions.{col, explode, udf}
      val remap = udf((fn: String) =>
        renames.getOrElse(fn, Seq(fn)).toArray)
      dvMap.foreach { case (srcDir, dstDir) =>
        spark.read.parquet(TxnLog.dataPath(srcPath, srcDir))
          .withColumn("file_name", explode(remap(col("file_name"))))
          .write.mode("overwrite")
          .parquet(new Path(dstPath, dstDir).toString)
      }
    }
    val adds = dataPairs.map { case (f, rel) =>
      f.copy(path = rel, modificationTime = commitTs, dataChange = true,
        dv = f.dv.map(dvMap))
    }
    dstLog.commit(0L,
      snap.metadata.toSeq ++ snap.protocol.toSeq ++ adds :+
        CommitInfo("CLONE_DEEP", commitTs))
    snap.version
  }

  /** Commit RemoveFile actions for every live file whose partitionValues
    * satisfy `pred` — partition-granularity delete, the CDC-generating
    * delete shape of the reference (RemoveFile actions,
    * DeltaReader.java:221–235). Data files are retained for replay.
    */
  def removeWhere(
      spark: SparkSession,
      tablePath: String,
      pred: Map[String, String] => Boolean,
      version: Long,
      commitTs: Long): Seq[RemoveFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap0 = log.snapshotLatest()
    TxnLog.assertWritable(snap0, tablePath)
    val doomed = snap0.files.filter(f => pred(f.partitionValues))
    val removes = doomed.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues))
    log.commit(version, removes :+ CommitInfo("DELETE", commitTs))
    removes
  }

  /** `l_returnflag=A/...` → Map(l_returnflag -> A) (hive-style dirs).
    * Values are UNESCAPED to the logical value: the writers (Spark's own
    * partitioned write, and any foreign hive layout CONVERT registers)
    * percent-escape special characters in the directory segment
    * (space → `%20`, `:` → `%3A`, …), and the log records LOGICAL
    * partition values — readers surface them as column values verbatim.
    * The null sentinel `__HIVE_DEFAULT_PARTITION__` contains no escapes
    * and passes through for the readers' null mapping.
    */
  private[graft] def partitionValuesOf(rel: String): Map[String, String] =
    if (rel.isEmpty) Map.empty
    else rel.split('/').filter(_.contains('=')).map { seg =>
      val Array(k, v) = seg.split("=", 2)
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(k) ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(v)
    }.toMap
}
