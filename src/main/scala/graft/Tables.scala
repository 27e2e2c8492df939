package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loaders for the driver-generated parquet fixture tables
  * (`TESTDATA.md`). One place encapsulates every read-side quirk so query
  * builders stay declarative.
  *
  * Scale note: each loader is a plain parquet scan — Catalyst pushes filters
  * and prunes columns into the scan, and the file source splits by
  * `spark.sql.files.maxPartitionBytes`, so the same code paths hold whether
  * the directory is 6k rows (sf0.001) or 100 TB on a 1000-executor cluster.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred fixture schemas, per JVM, keyed by (sfDir, table). Parquet
    * schema inference launches a Spark job on every plain read; with the
    * memo a table's schema is inferred on its first load only, and later
    * loads read with `.schema(...)`. Metadata only: every load still scans
    * the table's data.
    */
  private val schemas = new ConcurrentHashMap[(String, String), StructType]()

  /** Scan of `sfDir/name.parquet` with its memoized schema; `infer` runs on
    * the first load of the table only.
    */
  private def read(spark: SparkSession, sfDir: String, name: String)(
      infer: String => StructType): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemas.computeIfAbsent((sfDir, name), _ => infer(path))
    spark.read.schema(schema).parquet(path)
  }

  /** Raw scan of one fixture table. Also ensures graft's native functions
    * are registered on the session (idempotent), since every query builder
    * enters through here.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    graft.functions.ArrayMath.register(spark)
    if (name == "events") events(spark, sfDir)
    else read(spark, sfDir, name)(spark.read.parquet(_).schema)
  }

  /** `events.parquet` has stored `ts` with two different parquet physical
    * units across driver testdata generations: INT64 TIMESTAMP(NANOS,false)
    * (older fixtures — Spark rejects it by default, [PARQUET_TYPE_ILLEGAL];
    * FIXTURES.md §F2) and INT64 TIMESTAMP(MICROS,false) (current fixtures).
    * Detect the unit from the loaded schema and normalize to ONE contract
    * either way: `ts_ns` = exact epoch nanos as long (used for bucketing
    * arithmetic that must hash-match DuckDB's `epoch_ns`/`epoch_us`), plus a
    * micro-precision `TimestampType` `ts`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // NANOS fixtures only load with this legacy flag; harmless for MICROS.
    // Deliberately STICKY (neither is a ParquetOptions per-read option, and
    // this one is consulted again at every ACTION on the returned lazy
    // frame — restoring it would fail NANOS-generation execution later).
    // Its only session-wide effect is that other NANOS-annotated columns
    // (none exist in the fixture set) read as longs instead of erroring.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // MICROS(false) would otherwise infer TIMESTAMP_NTZ (Spark ≥3.4); read it
    // as TimestampType so `ts` keeps one type across fixture generations and
    // unix_micros sees the raw stored micros (same value DuckDB's epoch_us
    // computes) independent of session timezone. UNLIKE nanosAsLong this
    // flag only matters during the schema inference below (execution
    // follows the frame's already-resolved schema — asserted in
    // FixturesSpec), so it is scoped: saved, set, restored — unrelated
    // parquet timestamp reads in the session keep their default typing.
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val raw = read(spark, sfDir, "events") { path =>
      val prevNtz = spark.conf.getOption(ntzKey)
      spark.conf.set(ntzKey, "false")
      try spark.read.parquet(path).schema
      finally prevNtz match {
        case Some(v) => spark.conf.set(ntzKey, v)
        case None    => spark.conf.unset(ntzKey)
      }
    }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // NANOS read as raw long
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // native TIMESTAMP(MICROS)
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
