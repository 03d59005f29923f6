package graft.sources

import graft.core.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Pluggable event sources ≙ the reference's `Extract` protocol being
  * extendable to any object type (protocols.clj): the engine's contract
  * is just "a DataFrame with the event schema" - any format that can
  * produce those columns plugs into the SAME extract→transform→record
  * pipeline (`Transform.extractFrom` is source-agnostic).
  *
  * Parquet is the columnar default; JSON/CSV cover log-shaped feeds.
  * All three read with an explicit schema (no sampling-based inference
  * at scale). The streaming faces read parquet landing dirs through
  * `StreamSum.fileStream`, whose schema comes from one file footer.
  */
object EventSource {

  /** The canonical event schema. `tsType` is the one encoding-dependent
    * field: TIMESTAMP_NTZ for the current warehouse layout, BIGINT for
    * legacy epoch-nanos feeds - downstream never cares, because every
    * event-time consumer goes through the type-adaptive `graft_ts_us`.
    */
  def eventSchema(tsType: DataType = TimestampNTZType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  def parquet(spark: SparkSession, path: String): DataFrame = {
    Graft.ensureConf(spark)
    spark.read.parquet(path)
  }

  /** Text formats need an explicit fraction-bearing pattern: Spark's
    * default timestampNTZFormat carries only milliseconds, and the
    * events table has genuine microsecond components - the default
    * would silently truncate on write and desync `last_t` state.
    * Writers producing text feeds for these readers must use the same.
    */
  val tsNtzFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  def json(spark: SparkSession, path: String,
           tsType: DataType = TimestampNTZType): DataFrame = {
    Graft.ensureConf(spark)
    spark.read.schema(eventSchema(tsType))
      .option("timestampNTZFormat", tsNtzFormat).json(path)
  }

  def csv(spark: SparkSession, path: String,
          tsType: DataType = TimestampNTZType): DataFrame = {
    Graft.ensureConf(spark)
    spark.read.schema(eventSchema(tsType))
      .option("timestampNTZFormat", tsNtzFormat)
      .option("header", "true").csv(path)
  }

  /** ORC: the other columnar format Spark ships natively - same
    * predicate pushdown / column pruning story as parquet, so an
    * ORC-resident deployment pays no plan-shape penalty switching in.
    * ORC files are self-describing, so the schema (incl. the ts
    * encoding) comes from the footer, not a declaration.
    */
  def orc(spark: SparkSession, path: String): DataFrame = {
    Graft.ensureConf(spark)
    spark.read.orc(path)
  }
}
