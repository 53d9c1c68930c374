package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Fixture loaders for the driver-generated corpus (TESTDATA.md).
  *
  * One parquet table per name under `dir`: a single file, or a directory
  * of Spark `part-*` files (GrowFixture / Stress.blowUp output). These are
  * plain columnar scans; Catalyst pushes filters/projections into the
  * parquet reader, so callers should select/filter directly on the
  * returned frame rather than caching.
  *
  * Every read declares its schema, taken from the table's own parquet
  * footer on the driver ([[Tables.footerSchema]]). An undeclared
  * `spark.read.parquet` runs one Spark job per read just to infer that
  * same schema — an eager action while the plan is still being built,
  * and ~10× the cost of a declared read. The schema is not written
  * out by hand either: the fixture generations disagree on `events.ts`
  * (see [[events]]), and FIXTURES.md documents the types, it does not
  * define them.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private[graft] def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.footerSchema(spark, path)).parquet(path)
  }

  /** `events.ts` has shipped as two physical encodings across fixture
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects outright ([PARQUET_TYPE_ILLEGAL]), so it is read as a
    * long of nanos (legacy conf) and integer-divided down to microseconds
    * (floor division, matching how ns-capable readers like DuckDB/Arrow
    * truncate when converting to µs; double division would silently lose
    * precision at 1.7e18 ns) — and plain TIMESTAMP(MICROS) without UTC
    * adjustment, which Spark reads natively as TIMESTAMP_NTZ. Both are
    * normalized to the session-local TimestampType the engine uses
    * everywhere (session tz is pinned UTC, so the NTZ wall-clock cast is
    * value-preserving). Spark-written copies (GrowFixture, Stress) carry
    * TIMESTAMP already. The footer schema is converted under the conf set
    * here, so the declared type is the one the branch below expects. */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long fixture generation
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => // TIMESTAMP_NTZ (micros, isAdjustedToUTC=false)
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // one for all reads: building the default options creates a Hadoop
  // Configuration, which costs more than opening and converting a footer
  private lazy val footerOptions = ParquetReadOptions.builder().build()

  /** The Spark schema of the local parquet table at `path`, read from its
    * footer on the driver: no Spark job, no process spawn. It is the
    * schema `spark.read.parquet(path)` infers: Spark's row-metadata
    * schema when the writer left one, else the parquet schema converted
    * under this session's SQL conf. A directory is read as Spark does
    * with `mergeSchema` off, from its first `part-*` file in name order.
    * A non-local path, or a directory without a part file, fails. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val uri = new Path(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"footer schema needs a local path: $path")
    val local = Paths.get(uri.getPath)
    val file =
      if (!Files.isDirectory(local)) local
      else {
        val listing = Files.list(local)
        val parts =
          try listing.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("part-")).toVector
          finally listing.close()
        require(parts.nonEmpty, s"no part-* file in table directory $path")
        local.resolve(parts.min)
      }
    val reader = ParquetFileReader.open(new LocalInputFile(file), footerOptions)
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(new Path(file.toUri), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
