package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BindReferences, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionedFile, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal private[sql] bridge: the standard extension-library pattern
  * for reaching Spark internals (plans to DataFrames, catalyst
  * expressions, the parquet reader and file index) from graft code.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame from an RDD of InternalRow - keeps derived relations in
    * the Tungsten representation instead of round-tripping through
    * external `Row` ser/de (e.g. the global-rank zip, which would
    * otherwise fall out of codegen'd processing on both edges).
    */
  def ofInternalRows(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `ofInternalRows` over rows range-partitioned and sorted ascending
    * on the first column (what an RDD `sortByKey` on it yields), and
    * declared so, as `Dataset.localCheckpoint` of an `orderBy` declares
    * its rows: a later sort on that column plans no exchange.
    */
  def ofSortedRows(spark: SparkSession, rdd: RDD[InternalRow],
                   schema: StructType): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val order = Seq(SortOrder(attrs.head, Ascending))
    ofRows(spark, LogicalRDD(attrs, rdd,
      RangePartitioning(order, rdd.getNumPartitions), order)(
      spark.asInstanceOf[classic.SparkSession]))
  }

  /** Column ⇄ catalyst Expression, for operators whose parameters are
    * not SQL-expressible (e.g. a plan-time centroid matrix).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** True iff the DataFrame's plan is already a materialized leaf
    * (LogicalRDD — what `localCheckpoint`/`ofInternalRows` produce):
    * the signal that a defensive `localCheckpoint()` before an
    * iterative loop would be a pure-overhead second materialization.
    */
  def isMaterializedLeaf(df: DataFrame): Boolean =
    df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Deterministically release a `localCheckpoint`ed relation's blocks:
    * `Dataset.unpersist` only talks to the CacheManager, so the
    * checkpoint RDD would otherwise stay in `getPersistentRDDs` until
    * the ContextCleaner notices the dropped reference — a release
    * visible only to the GC is not a release a memo teardown can
    * assert on. The blocks go through the context directly: the same
    * removal `RDD.unpersist` makes, without its warning that a local
    * checkpoint's lineage cannot be recomputed - a release frees the
    * rows on purpose.
    */
  def unpersistMaterialized(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => freeBlocks(l.rdd)
      case _ => ()
    }

  /** `unpersistMaterialized` for an RDD checkpointed directly. */
  def freeBlocks(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `schema` with every field nullable, nested ones too: how a file
    * source reads any schema back.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Spark's own parquet decoder for files of `schema`, run in the
    * calling thread: the function a file scan's tasks run, so the
    * session's timestamp, rebase and nanos settings decode exactly as
    * in a scan. Building it broadcasts the Hadoop conf; the function
    * is thread-safe, as concurrent tasks share it. The conf is a
    * `JobConf` because the per-file task context copies any other
    * conf whole, which would cost more than decoding a small file;
    * the reader only reads it. The iterator may reuse one row object,
    * so copy the rows you keep; it closes the file when drained.
    */
  def parquetRowReader(spark: SparkSession,
                       schema: StructType): FileStatus => Iterator[InternalRow] = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      s, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new org.apache.hadoop.mapred.JobConf(s.sessionState.newHadoopConf()))
    f => read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
      0L, f.getLen, Array.empty, f.getModificationTime, f.getLen))
  }

  /** The key-equality condition `keys(i) = p_i` over a data row of
    * `attrs` joined with a row of parameters `p_i` typed `paramTypes`,
    * analyzed as a filter over both, so type coercion and null
    * semantics are the ones a plan comparing each key with a literal of
    * that type gets, then bound to the joined row's ordinals. It
    * depends only on the types, so one analysis serves every key of
    * that signature; evaluate it interpreted against a
    * `JoinedRow(data, params)`, where a null result matches nothing.
    */
  def keyMatch(spark: SparkSession, attrs: Seq[Attribute], keys: Seq[String],
               paramTypes: Seq[DataType]): Expression = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val params = paramTypes.zipWithIndex.map { case (t, i) =>
      AttributeReference(s"__key$i", t)() }
    val cond = keys.zip(params).map { case (k, p) =>
      functions.col(k) === column(p) }.reduce(_ && _)
    val Filter(analyzed, _) = s.sessionState.analyzer.executeAndCheck(
      Filter(s.expression(cond), LocalRelation(attrs ++ params)),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker): @unchecked
    BindReferences.bindReference(analyzed, attrs ++ params)
  }

  /** The schema `spark.read.options(options).parquet(path).schema`
    * infers, read on the driver from one footer: the file Spark's
    * non-merging inference picks (a `_common_metadata`, else a
    * `_metadata`, else the first data file by path) among the files its
    * index lists, converted with the converter and session confs that
    * inference uses, plus the partition columns of the path. Spark reads
    * that footer in a one-task job; this reads it in the calling thread.
    */
  def parquetSchema(spark: SparkSession, path: String,
                    options: Map[String, String] = Map.empty): StructType = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val conf = s.sessionState.conf
    val hadoopConf = s.sessionState.newHadoopConfWithOptions(options)
    val root = new Path(path)
    val index = new InMemoryFileIndex(s,
      Seq(root.getFileSystem(hadoopConf).makeQualified(root)), options, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summary(f.getPath.getName)))
      .getOrElse(throw errors.QueryCompilationErrors
        .dataSchemaNotSpecifiedError("Parquet"))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val data = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), converter)
    PartitioningUtils.mergeDataAndPartitionSchema(data.asNullable,
      index.partitionSchema, conf.caseSensitiveAnalysis)._1
  }

  /** A parquet relation over files the caller already listed: each
    * root dir with the data files under it. The file index starts from
    * a status cache holding exactly those listings, so building the
    * relation lists nothing - in particular it never launches the
    * listing job Spark runs for more than
    * `parallelPartitionDiscovery.threshold` paths. The files must not
    * change while the relation lives (the cache is never refreshed).
    * Partition columns below a root are discovered from the paths and
    * typed by `schema`, as `spark.read.schema(schema).parquet(roots)`
    * does; roots must be qualified like the listed paths.
    */
  def parquetOfListed(spark: SparkSession, schema: StructType,
                      listed: Seq[(Path, Array[FileStatus])]): DataFrame = {
    val listings = listed.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        listings.get(p)
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_._1), Map.empty,
      Some(schema), cache)
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(f => parts.exists(_.name == f.name)))
    ofRows(spark, LogicalRelation(HadoopFsRelation(index, parts,
      data.asNullable, None, new ParquetFileFormat, Map.empty)(spark)))
  }
}
