package graft.txn

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType,
  IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap
import scala.jdk.CollectionConverters._

/** Deletion vectors: row-level DELETE that never rewrites a data file —
  * the delete records WHICH rows died (by file + row position) in a small
  * sidecar, and every reader subtracts them. At 100 TB this is the
  * difference between "delete 1k rows = rewrite 1k × 1 GB files" and
  * "delete 1k rows = write one KB-scale sidecar"; compaction ([[purge]])
  * folds the vectors back into plain files asynchronously.
  *
  * Protocol: a table carrying DVs commits `Protocol(2, 2)` — engines that
  * don't understand the `dv` pointer (this engine before round 4) REFUSE
  * the table instead of silently resurrecting deleted rows.
  *
  * Layout: one DV directory per delete commit,
  * `_dv/dv-<version>-<attempt>/`, holding the dead rows of its files in
  * one part file (see the encodings below). The affected `AddFile`
  * re-commits with `dv` pointing at the directory; a file deleted from
  * twice gets a NEW directory holding the UNION of its dead rows
  * (pointers replace, never chain), with each row keeping the version
  * that first deleted it — which is exactly what CDC needs to emit
  * op='d' events per commit.
  *
  * Write path: a DML gathers its kills as one Roaring bitmap per file
  * where it already sees the rows (the SQL delta writer's tasks, the
  * API delete's marking scan), and [[commitVector]] writes the vector on
  * the driver, straight into its final directory: no staging, no
  * rename, no Spark job.
  *
  * Row identity is `_metadata.row_index` + `_metadata.file_name`: part
  * file names embed (version, ordinal) so they are unique per table, and
  * row_index is stable because data files are immutable.
  */
object DeletionVectors {

  /** Relative DV directory for a delete commit. */
  def dvDir(version: Long): String = f"_dv/dv-$version%020d"

  /** Sidecar encodings. Vectors written since round 12 are ROARING
    * BITMAPS `(file_name, deleted_at, n_rows, bitmap)`: one or more
    * disjoint rows per (file_name, deleted_at) pair, each holding dead
    * positions as a serialized Roaring64Bitmap plus its cardinality —
    * a 10⁸-row delete is a few compressed-bitmap rows, not 10⁸ parquet
    * rows. Row-granular `deleted_at` survives exactly where the CDC
    * needs it: per-version bitmaps, since a row's kill version keys the
    * op='d' replay. LEGACY dirs (rounds 4–11: `(file_name, row_index,
    * deleted_at)`, one row per dead row) read forever — each part's own
    * footer says which shape it holds.
    *
    * Every reader applies a vector the same way: [[masks]] reads each
    * directory a read needs once per table state, on the driver (one
    * LIST, each part file once, no Spark job), into one bitmap per
    * (file, deleted_at) for the files the read touches, and later reads
    * of the table reuse them; the DSv2 readers ship each split
    * its own file's bitmap, the DataFrame reads ([[readFiles]]) filter
    * `_metadata.row_index` against the broadcast per-file masks.
    */
  private[graft] def serializeBitmap(bm: Roaring64Bitmap): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  private[graft] def deserializeBitmap(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  /** The dead positions of the files one read needs: per (file name,
    * vector pointer), a (kill version, bitmap) entry per bitmap row of
    * the vector (a pair's rows are disjoint; a legacy dir's rows fold
    * into one per version). A file is looked up by its logged path and
    * the pointer its entry carries — relative (own deletes) or absolute
    * (shallow-clone imports) — so a superseded directory is never read.
    */
  final class Masks private[DeletionVectors] (
      vectors: Map[(String, String), Seq[(Long, Roaring64Bitmap)]]) {
    // the bitmaps may be shared with the table's cached state: every
    // accessor below reads them or unions them into a new one
    private def of(path: String, pointer: String) =
      vectors.getOrElse((new Path(path).getName, pointer), Nil)

    private def union(bms: Seq[Roaring64Bitmap]): Roaring64Bitmap = {
      val out = new Roaring64Bitmap()
      bms.foreach(out.or)
      out
    }

    /** Positions of `path` dead at any version. */
    def dead(path: String, pointer: String): Roaring64Bitmap =
      union(of(path, pointer).map(_._2))

    /** Positions of `path` that died at exactly `version`. */
    def diedAt(path: String, pointer: String, version: Long): Roaring64Bitmap =
      union(of(path, pointer).collect { case (`version`, bm) => bm })

    /** Dead-row count of `f` (0 without a vector). */
    def count(f: AddFile): Long =
      f.dv.fold(0L)(of(f.path, _).map(_._2.getLongCardinality).sum)

    /** `f`'s kills as vector rows `(file_name, deleted_at, n_rows,
      * bitmap)`, one per entry.
      */
    def rows(f: AddFile): Seq[(String, Long, Long, Array[Byte])] =
      f.dv.toSeq.flatMap(of(f.path, _).map { case (v, bm) =>
        (new Path(f.path).getName, v, bm.getLongCardinality,
          serializeBitmap(bm)) })
  }

  object Masks {
    /** No dead positions: a read through it keeps every row. */
    val empty: Masks = new Masks(Map.empty)
  }

  /** The masks of `files` (logged path, vector pointer). A vector
    * directory is immutable and its name unique to one commit attempt, so
    * a mask once loaded holds for good: the table's cached driver state
    * ([[TxnLog]]) keeps every mask loaded for it, and an advanced state
    * keeps those of files whose pointer did not change. Only vectors not
    * seen yet are loaded: one LIST per directory, each part file read
    * once on the driver, only the rows of the named files kept.
    */
  def masks(
      conf: org.apache.hadoop.conf.Configuration,
      tablePath: String,
      files: Iterable[(String, String)]): Masks = {
    val wanted = files.iterator.map { case (p, ptr) =>
      (new Path(p).getName, ptr) }.toSet
    val store = new TxnLog(tablePath, conf).vectorMasks
    val missing = store.fold(wanted)(s => wanted.filterNot(s.containsKey))
    val loaded = load(conf, tablePath, missing)
    store.foreach(s => missing.foreach(k => s.put(k, loaded.getOrElse(k, Nil))))
    new Masks(wanted.iterator.map(k => k -> loaded.getOrElse(k,
      store.flatMap(s => Option(s.get(k))).getOrElse(Nil))).toMap)
  }

  /** Read the vectors of `files` (data file name, vector pointer). */
  private def load(
      conf: org.apache.hadoop.conf.Configuration,
      tablePath: String,
      files: Set[(String, String)]): Map[(String, String), Seq[(Long, Roaring64Bitmap)]] = {
    import scala.collection.mutable
    val out = mutable.HashMap.empty[(String, String),
      mutable.ArrayBuffer[(Long, Roaring64Bitmap)]]
    val legacy = mutable.HashMap.empty[((String, String), Long), Roaring64Bitmap]
    files.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (pointer, fs) =>
      val names = fs.map(_._1)
      val dir = new Path(TxnLog.dataPath(tablePath, pointer))
      dir.getFileSystem(conf).listStatus(dir)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { st =>
          val r = org.apache.parquet.hadoop.ParquetReader
            .builder(new VectorRows, st.getPath).withConf(conf).build()
          try {
            var row = r.read()
            while (row != null) {
              val file = (row.name, pointer)
              def add(bm: Roaring64Bitmap): Roaring64Bitmap = {
                out.getOrElseUpdate(file, mutable.ArrayBuffer.empty) +=
                  (row.deletedAt -> bm)
                bm
              }
              if (!names.contains(row.name)) ()
              else if (row.bitmap != null) add(deserializeBitmap(row.bitmap))
              else legacy.getOrElseUpdate((file, row.deletedAt),
                add(new Roaring64Bitmap())).addLong(row.rowIndex)
              row = r.read()
            }
          } finally r.close()
        }
    }
    out.map { case (file, bms) => file -> bms.toSeq }.toMap
  }

  /** The masks of the vector-carrying files among `files`. */
  def masks(spark: SparkSession, tablePath: String, files: Seq[AddFile]): Masks = {
    val refs = files.flatMap(f => f.dv.map(f.path -> _))
    if (refs.isEmpty) Masks.empty
    else masks(spark.sessionState.newHadoopConf(), tablePath, refs)
  }

  /** Reads a vector part of either encoding, one row at a time, into
    * its own fields: `bitmap` stays null for a legacy row, which names
    * its one dead position in `rowIndex`; `n_rows` is skipped (a bitmap
    * knows its cardinality).
    */
  private final class VectorRows extends ReadSupport[VectorRows] {
    var name: String = _
    var deletedAt = 0L
    var bitmap: Array[Byte] = _
    var rowIndex = 0L

    override def init(ctx: InitContext): ReadSupport.ReadContext =
      new ReadSupport.ReadContext(ctx.getFileSchema)

    override def prepareForRead(conf: org.apache.hadoop.conf.Configuration,
        meta: java.util.Map[String, String], schema: MessageType,
        ctx: ReadSupport.ReadContext): RecordMaterializer[VectorRows] = {
      def binary(set: Binary => Unit): Converter = new PrimitiveConverter {
        override def addBinary(v: Binary): Unit = set(v) }
      def long(set: Long => Unit): Converter = new PrimitiveConverter {
        override def addLong(v: Long): Unit = set(v) }
      val fields = schema.getFields.asScala.map(_.getName match {
        case "file_name" => binary(v => name = v.toStringUsingUTF8)
        case "deleted_at" => long(deletedAt = _)
        case "bitmap" => binary(v => bitmap = v.getBytes)
        case "row_index" => long(rowIndex = _)
        case _ => long(_ => ())
      }).toArray
      val root = new GroupConverter {
        override def getConverter(i: Int): Converter = fields(i)
        override def start(): Unit = bitmap = null
        override def end(): Unit = ()
      }
      new RecordMaterializer[VectorRows] {
        override def getCurrentRecord: VectorRows = VectorRows.this
        override def getRootConverter: GroupConverter = root
      }
    }
  }

  private def declaredSchema(snap: Snapshot): Option[StructType] =
    snap.metadata.map(m =>
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType])

  /** Dead rows across `files`. Metadata-sized work: only the KB-scale
    * sidecars are read, never the data files — what keeps SHOW
    * PARTITIONS-style row counts exact on a DV table without a scan.
    */
  def deletedCount(spark: SparkSession, tablePath: String,
      files: Seq[AddFile]): Long = {
    val m = masks(spark, tablePath, files)
    files.map(m.count).sum
  }

  /** Read `files` of the table with deletion vectors applied. With
    * `withRowMeta`, the result keeps `_fn` (file name), `_ri` (row
    * index) and `_path` (normalized full path) columns — the row
    * identity the delete/CDC machinery keys on. `masks` are the dead
    * positions to drop, loaded here when None: a statement that reads
    * the same files more than once loads them once and passes them.
    * `Masks.empty` reads every row of the files, dead or not: for a
    * caller whose kills already name only live rows.
    */
  def readFiles(
      spark: SparkSession,
      tablePath: String,
      files: Seq[AddFile],
      schema: Option[StructType],
      withRowMeta: Boolean = false,
      mapping: Map[String, String] = Map.empty,
      masks: Option[Masks] = None): DataFrame = {
    require(files.nonEmpty, "readFiles needs at least one file")
    // Partition evolution: files written under DIFFERENT partition specs
    // (setPartitioning changes the layout of future writes only) cannot
    // share one hive-inference scan — Spark rejects mixed directory
    // depths. One scan PER SPEC (the spec is the partitionValues key
    // set; generations are few), unioned by name: a column that is
    // hive-encoded in one generation is plain data in another, so every
    // generation surfaces the same logical columns.
    // Shallow-clone imports live under the SOURCE root: hive partition
    // inference needs a basePath per PHYSICAL root, so external files
    // group by the root derived from their own path (parent minus one
    // hive segment per partition column — the source wrote the same
    // layout its log records). Local files keep tablePath. A clone that
    // appended locally after import thus scans as two generations of the
    // same spec, unioned by name — identical logical columns either way.
    def rootOf(f: AddFile): String =
      if (!TxnLog.isExternal(f.path)) tablePath
      else f.path.split('/').dropRight(f.partitionValues.size + 1)
        .mkString("/")
    // Column mapping: the scan asks for PHYSICAL names (what the files
    // carry; logical names would resolve to nulls), then renames the
    // frame back to logical before anything downstream sees it.
    def scanOne(group: Seq[AddFile], base: String): DataFrame = schema match {
      case Some(s) => knownFiles(spark, tablePath, group, base,
        ColumnMapping.physicalSchema(s, mapping))
      case None => spark.read.option("basePath", base)
        .parquet(group.map(f => TxnLog.dataPath(tablePath, f.path)): _*)
    }
    def logical(df: DataFrame): DataFrame = ColumnMapping.toLogical(df, mapping)
    // `_metadata` resolves only against a scan relation, never through a
    // Union — so the per-group transform (logical rename + row-meta
    // columns + the mask) applies BEFORE generations merge.
    def scan(perGroup: DataFrame => DataFrame): DataFrame = files
      .groupBy(f => (f.partitionValues.keySet, rootOf(f))).toSeq
      .sortBy { case ((ks, root), _) =>
        (ks.toSeq.sorted.mkString(","), root) } // deterministic plan
      .map { case ((_, root), group) =>
        perGroup(logical(scanOne(group, root))) }
      .reduce(_ unionByName _)
    val loaded = masks.getOrElse(this.masks(spark, tablePath, files))
    val dead = files.flatMap(f => f.dv.map(p =>
      new Path(f.path).getName -> loaded.dead(f.path, p)))
      .filterNot(_._2.isEmpty).toMap
    // DV-free fast path: a plain vectorized scan with zero added columns
    // (the common case must not pay for the feature)
    if (!withRowMeta && dead.isEmpty) return scan(identity)
    lazy val live = picked(spark, col("_metadata.file_name"),
      col("_metadata.row_index"), dead.map { case (n, bm) =>
        (UTF8String.fromString(n): Any) -> (bm -> false) })
    scan { df =>
      val kept = if (dead.isEmpty) df else df.filter(live)
      if (!withRowMeta) kept
      else kept
        .withColumn("_fn", col("_metadata.file_name"))
        .withColumn("_ri", col("_metadata.row_index"))
        .withColumn("_path",
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    }
  }

  /** A parquet scan of `files` under `base` with the given (physical)
    * `schema`, hive partition values inferred from the paths as
    * `spark.read.parquet` does. The log knows each file's size and
    * modification time, so the scan's file index is handed them instead
    * of listing every file (one LIST per file, and a Spark job once a
    * scan passes 32 files); a file logged without a size (a removed
    * file's CDC read) is listed as before.
    */
  private def knownFiles(spark: SparkSession, tablePath: String,
      files: Seq[AddFile], base: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val conf = spark.sessionState.newHadoopConf()
    val paths = files.map { f =>
      val p = new Path(TxnLog.dataPath(tablePath, f.path))
      (f, p.getFileSystem(conf).makeQualified(p))
    }
    val known = paths.collect { case (f, p) if f.size > 0 =>
      p -> Array(new org.apache.hadoop.fs.FileStatus(f.size, false, 1, 0L,
        f.modificationTime, p))
    }.toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[org.apache.hadoop.fs.FileStatus]] =
        known.get(path)
      override def putLeafFiles(path: Path,
          leaves: Array[org.apache.hadoop.fs.FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("basePath" -> base)
    val index = new InMemoryFileIndex(spark, paths.map(_._2), options,
      Some(schema), listed)
    val resolver = spark.sessionState.conf.resolver
    val partitions = index.partitionSchema
    val data = StructType(schema.filterNot(f =>
      partitions.exists(p => resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions,
      ColumnBridge.asNullable(data), None,
      new ParquetFileFormat, options)(spark))
  }

  /** A filter on rows whose mask, the one `masks` holds under the row's
    * `key`, picks position `pos`: `(bitmap, false)` keeps the positions
    * the bitmap does not name (a file's live rows), `(bitmap, true)` only
    * the ones it names; a key without a mask keeps the row. The masks are
    * broadcast once per filter.
    */
  private[graft] def picked(spark: SparkSession, key: Column, pos: Column,
      masks: Map[Any, (Roaring64Bitmap, Boolean)]): Column =
    ColumnBridge.column(Picked(ColumnBridge.expression(key),
      ColumnBridge.expression(pos), spark.sparkContext.broadcast(masks)))

  /** [[picked]]'s expression. A scan reads a file's rows together, so
    * the last key's mask is kept: per row, one key compare and one
    * bitmap probe, called straight from the generated code (which is why
    * the class is not private).
    */
  private[txn] case class Picked(key: Expression, pos: Expression,
      masks: Broadcast[Map[Any, (Roaring64Bitmap, Boolean)]])
      extends BinaryExpression {
    override def left: Expression = key
    override def right: Expression = pos
    override def dataType: DataType = BooleanType
    @transient private var last: (Any, (Roaring64Bitmap, Boolean)) = _

    def keep(k: Any, p: Long): Boolean = {
      if (last == null || last._1 != k) {
        val own = k match { case s: UTF8String => s.clone(); case other => other }
        last = (own, masks.value.getOrElse(own, null))
      }
      last._2 == null || last._2._1.contains(p) == last._2._2
    }

    override def nullSafeEval(k: Any, p: Any): Any = keep(k, p.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("picked", this)
      defineCodeGen(ctx, ev, (k, p) =>
        if (key.dataType == IntegerType)
          s"$self.keep((Object) Integer.valueOf($k), $p)"
        else s"$self.keep((Object) $k, $p)")
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(key = l, pos = r)
  }

  /** Snapshot read with DVs applied (the [[SnapshotReader]] back end). */
  def readSnapshot(
      spark: SparkSession,
      tablePath: String,
      snap: Snapshot,
      withRowMeta: Boolean = false,
      masks: Option[Masks] = None): DataFrame =
    readFiles(spark, tablePath, snap.files, declaredSchema(snap), withRowMeta,
      snap.metadata.map(_.columnMapping).getOrElse(Map.empty), masks)

  /** Row-level DELETE WHERE via deletion vectors: no data file is
    * rewritten — matched row positions are written to a new DV directory
    * and the affected files re-commit with updated pointers.
    */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      pred: Column,
      version: Long,
      commitTs: Long): Unit =
    deleteRows(spark, tablePath, version, commitTs, live => live.filter(pred))

  /** Keyed DV delete — the CDC-apply shape: rows whose `keyCols` match
    * a row of `keys` are marked dead (left-semi join instead of a
    * predicate, so the delete side can be a full frame of arbitrary
    * size — no driver-side IN-list).
    *
    * Semantics are ALL COPIES per key: every live row matching a key is
    * deleted, and one delete row kills N duplicate copies — the correct
    * contract for keyed CDC replay (a key identifies ONE logical row)
    * and for full-row identity on duplicate-free tables. It is NOT a
    * multiplicity-preserving bag difference: replaying full-row CDC
    * onto a table holding duplicate copies of a row would delete all of
    * them. Callers needing bag semantics must carry an occurrence
    * discriminator in `keyCols`.
    */
  def deleteMatching(
      spark: SparkSession,
      tablePath: String,
      keys: DataFrame,
      keyCols: Seq[String],
      version: Long,
      commitTs: Long): Unit =
    deleteRows(spark, tablePath, version, commitTs,
      live => live.join(keys.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_semi"))

  /** Per-file kills of `rows` as Roaring bitmaps of their `_ri`
    * positions, keyed by column `key` (a file name or path), in one job:
    * each task folds its own rows, the driver ORs what they return (a
    * bitmap per file a task saw, so the collect is bounded by the
    * affected files, not the rows). With `changes`, the same tasks write
    * every row as a `delete` change row, so the deleted rows are never
    * read again; the result then also holds the sidecars' actions. A task
    * that fails deletes its sidecars; when the job fails, so do the tasks
    * that finished.
    */
  private[graft] def collectKills(
      rows: DataFrame,
      key: String,
      changes: Option[graft.sources.ChangeRows] = None)
      : (Map[String, Roaring64Bitmap], Seq[CdcFile]) = {
    val schema = rows.schema
    val keyIdx = schema.fieldIndex(key)
    val posIdx = schema.fieldIndex("_ri")
    val ordinals = changes.map(_.columns.fieldNames.toSeq.map(schema.fieldIndex))
    val sc = rows.sparkSession.sparkContext
    val finished = sc.collectionAccumulator[CdcFile]("graft change rows")
    val qe = rows.queryExecution
    val results = try {
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some("graft deletion-vector kills")) {
        qe.toRdd.mapPartitions { it =>
          val task = org.apache.spark.TaskContext.get()
          val out = changes.map(_.writer(task.partitionId(),
            task.taskAttemptId(), ordinals.get))
          try {
            val open = scala.collection.mutable.HashMap
              .empty[UTF8String, Roaring64Bitmap]
            var last: UTF8String = null
            var bm: Roaring64Bitmap = null
            it.foreach { r =>
              val k = r.getUTF8String(keyIdx)
              if (last == null || last != k) {
                last = k.clone()
                bm = open.getOrElseUpdate(last, new Roaring64Bitmap())
              }
              bm.addLong(r.getLong(posIdx))
              out.foreach(_.write(r, ChangeDataFeed.Delete))
            }
            val written = out.toSeq.flatMap(_.committed())
            written.foreach(finished.add)
            Iterator.single((open.toSeq.map { case (f, b) =>
              f.toString -> serializeBitmap(b) }, written))
          } catch { case t: Throwable =>
            out.foreach(_.abort())
            throw t
          }
        }.collect()
      }
    } catch { case t: Throwable =>
      changes.foreach(c => graft.sources.ChangeRows.drop(c.files.tablePath,
        rows.sparkSession.sessionState.newHadoopConf(),
        finished.value.asScala.toSeq))
      throw t
    }
    (orKills(results.iterator.flatMap(_._1)), results.toSeq.flatMap(_._2))
  }

  /** Serialized per-file bitmaps ORed into one bitmap per file. */
  private[graft] def orKills(
      kills: IterableOnce[(String, Array[Byte])]): Map[String, Roaring64Bitmap] = {
    val out = scala.collection.mutable.HashMap.empty[String, Roaring64Bitmap]
    kills.iterator.foreach { case (f, bytes) =>
      out.getOrElseUpdate(f, new Roaring64Bitmap()).or(deserializeBitmap(bytes)) }
    out.toMap
  }

  private val VectorSchema = StructType(Seq(
    StructField("file_name", StringType),
    StructField("deleted_at", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("bitmap", BinaryType)))

  /** Write version `version`'s deletion vector and return its pointer
    * with the actions that commit it: the affected files' removes, their
    * re-adds carrying the pointer, and the `Protocol(2, 2)` upgrade if
    * `snap` lacks it. The vector holds `kills` — this statement's dead
    * positions per file name, all of them in `affected` — as bitmaps
    * dead at `version`, plus the kills `affected` already carry, copied
    * from `masks` (which must cover them) with their original
    * deleted_at: pointers replace, never chain. Both DML paths call it,
    * the SQL UPDATE/MERGE commit and [[deleteRows]].
    *
    * The driver writes the vector's one part file, with no Spark job,
    * straight into its final directory through the task writer every
    * commit uses (session codec, [[TableCommitProtocol]] names): nothing
    * is staged or renamed. The directory name carries an ATTEMPT-UNIQUE
    * suffix, so two writers racing on one target version never write
    * into, or drop, each other's vector, and no reader sees a directory
    * before a commit points at it; vacuum sweeps the directories of
    * commits that never land.
    */
  private[graft] def commitVector(
      spark: SparkSession,
      tablePath: String,
      snap: Snapshot,
      version: Long,
      commitTs: Long,
      kills: Map[String, Roaring64Bitmap],
      affected: Seq[AddFile],
      masks: Masks): (String, Seq[Action]) = {
    val rel = s"${dvDir(version)}-${java.util.UUID.randomUUID().toString.take(8)}"
    val writer = new graft.sources.GraftStreamingDataWriter(
      graft.sources.TaskFiles.prepare(tablePath, VectorSchema, Seq.empty,
        sidecarDir = Some(rel)), "part-dv", 0, 0L)
    try {
      affected.foreach { f =>
        val name = new Path(f.path).getName
        val fresh = kills.get(name).map(bm => (name, version,
          bm.getLongCardinality, serializeBitmap(bm)))
        (masks.rows(f) ++ fresh).foreach { case (n, at, card, bytes) =>
          writer.write(InternalRow(UTF8String.fromString(n), at, card, bytes)) }
      }
      writer.committed()
    } catch { case t: Throwable =>
      writer.close()
      dropVector(spark, tablePath, rel)
      throw t
    }
    val removes = affected.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues))
    val readds = affected.map(_.copy(
      modificationTime = commitTs, dataChange = true, dv = Some(rel)))
    val protocol =
      if (snap.protocol.exists(_.minReaderVersion >= 2)) Seq.empty
      else Seq(Protocol(2, 2))
    (rel, protocol ++ removes ++ readds)
  }

  /** Drop an UNCOMMITTED vector dir (commit-retry cleanup). */
  private[graft] def dropVector(
      spark: SparkSession, tablePath: String, rel: String): Unit = {
    val p = new Path(tablePath, rel)
    try p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    catch { case _: Throwable => () }
  }

  /** The distinct values of string column `column` of `df`, in one
    * job: each partition drops its own duplicates and the collect
    * unions the rest. For the names of the files a DML touches — bounded by
    * the table's file count, so no shuffle is needed to shrink them.
    */
  private[graft] def distinctValues(
      df: DataFrame, column: String): Set[String] =
    df.select(col(column)).as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(org.apache.spark.sql.Encoders.STRING)
      .collect().toSet

  private def deleteRows(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      commitTs: Long,
      mark: DataFrame => DataFrame): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    // the marker evaluates over the LIVE view (already-deleted rows
    // can't re-match — their deleted_at must keep the original version)
    // loaded once: the marking scan drops them, the new vector carries them
    val loaded = masks(spark, tablePath, snap.files)
    val marked = mark(readSnapshot(spark, tablePath, snap,
      withRowMeta = true, masks = Some(loaded)))
    val changes = ChangeDataFeed.deleteRows(snap, tablePath, marked, version)
    // the marking scan folds its kills into per-file bitmaps and, with
    // the change feed on, writes the deleted rows as it sees them (one job)
    val (kills, cdcActions) = collectKills(marked, "_fn", changes)
    if (kills.isEmpty) {
      log.commit(version, Seq(CommitInfo("DELETE_DV", commitTs)))
      return
    }
    val affected = snap.files
      .filter(f => kills.contains(new Path(f.path).getName))
    val (dir, vector) = commitVector(spark, tablePath, snap, version, commitTs,
      kills, affected, loaded)
    try log.commit(version,
      vector ++ cdcActions :+ CommitInfo("DELETE_DV", commitTs))
    catch { case e: IllegalStateException
        if e.getMessage != null && e.getMessage.startsWith("concurrent commit") =>
      // the retry writes its own vector and change rows
      dropVector(spark, tablePath, dir)
      graft.sources.ChangeRows.drop(tablePath, conf, cdcActions)
      throw e
    }
  }

  /** Fold every deletion vector back into plain files: DV-carrying files
    * rewrite without their dead rows as a REORGANIZATION commit
    * (dataChange=false — the logical table is unchanged, so CDC emits
    * nothing), clearing the pointers. The async-compaction half of the
    * DV design: deletes are cheap at write time, and purge restores
    * plain-reader speed (and v1-reader compatibility) off the hot path.
    */
  def purge(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      commitTs: Long): Seq[AddFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new TxnLog(tablePath, conf)
    val snap = log.snapshotLatest()
    TxnLog.assertWritable(snap, tablePath)
    val doomed = snap.files.filter(_.dv.isDefined)
    if (doomed.isEmpty) return Seq.empty
    val partCols = snap.metadata.map(_.partitionColumns).getOrElse(Seq.empty)
    val live = readFiles(spark, tablePath, doomed, declaredSchema(snap))
    val adds = TableWriter.stageAndMove(spark, live, tablePath, partCols,
      version, commitTs, dataChange = false, snap.metadata)
    val removes = doomed.map(f =>
      RemoveFile(f.path, commitTs, f.partitionValues, dataChange = false))
    log.commit(version, (removes ++ adds) :+ CommitInfo("PURGE_DV", commitTs))
    adds
  }
}
