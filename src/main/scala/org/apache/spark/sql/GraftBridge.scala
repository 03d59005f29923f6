package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BasePredicate, BindReferences, InterpretedPredicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

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
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ => ()
    }

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

  /** `condition` as a predicate over rows of `attrs`: analyzed as a
    * filter on them, so type coercion and null semantics are the ones a
    * plan gets, then bound to their ordinals. Interpreted: a predicate
    * over fresh literals compiles nothing.
    */
  def boundPredicate(spark: SparkSession, attrs: Seq[Attribute],
                     condition: Column): BasePredicate = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val Filter(cond, _) = s.sessionState.analyzer.executeAndCheck(
      Filter(s.expression(condition), LocalRelation(attrs)),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker): @unchecked
    val p = InterpretedPredicate(BindReferences.bindReference(cond, attrs))
    p.initialize(0)
    p
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
