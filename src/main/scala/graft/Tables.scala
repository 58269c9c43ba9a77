package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loaders + cross-engine determinism helpers.
  *
  * Every query in this library is verified against a DuckDB oracle by
  * hash-comparing result values (driver contract, see SURVEY.md §5).
  * Floating-point SUM/AVG are order-dependent, and Spark's shuffle makes
  * the order nondeterministic — so all summed measures go through exact
  * DECIMAL arithmetic (input columns carry <=4 decimal digits, so the
  * double->decimal cast is unambiguous) and only the final result is cast
  * back to DOUBLE. This makes results bit-identical across engines AND
  * across cluster sizes: the same convention that makes the oracle match
  * on local[32] makes re-runs reproducible on a 1000-executor cluster.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped under three physical encodings across fixture
    * generations, so the loader branches on what the file actually contains
    * rather than assuming one (the reference itself coerces naive cursor
    * timestamps instead of crashing, lambda_function.py:139-140):
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright unless
    *    `spark.sql.legacy.parquet.nanosAsLong` is set, so we sniff the
    *    footer first and set the conf only in that case (it must stay set
    *    through execution of the lazy plan — a scoped restore would break
    *    the executor-side read). The raw nanos long is floor-divided to
    *    micros, the same truncation DuckDB applies casting ns->us.
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=false: Spark reads
    *    TIMESTAMP_NTZ; cast to TIMESTAMP is identity under the UTC session
    *    timezone every entry point sets, and matches what DuckDB sees.
    *  - TIMESTAMP_MICROS/MILLIS adjusted to UTC: pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    if (tsStoredAsNanos(s, path))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }

  /** Streaming twin of [[events]]: same footer sniff + ts normalization,
    * over a `readStream` file source at an arbitrary path (streaming
    * sources need an explicit schema, taken from a one-footer batch read).
    */
  def eventsStreamAt(s: SparkSession, path: String): DataFrame = {
    if (tsStoredAsNanos(s, path))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = s.read.parquet(path).schema
    normalizeTs(s.readStream.schema(rawSchema).parquet(path))
  }

  /** Bring any fixture encoding of `ts` to TIMESTAMP (micros, UTC): raw
    * long = legacy nanos (floor-divide, same ns->us truncation DuckDB
    * applies); NTZ = cast (identity under the UTC session timezone);
    * TIMESTAMP = pass-through. Works on batch and streaming frames alike.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Footer sniff: is events.ts physically INT64/TIMESTAMP(NANOS)? Reads
    * one footer (directory datasets: first part file) — O(1) metadata, no
    * data IO, safe at any scale. Raw unannotated INT64 is also treated as
    * the legacy nanos-as-long shape.
    *
    * DOCUMENTED LIMIT: one footer speaks for the directory. A dataset
    * whose part files MIX ts encodings (conceivable if a regeneration
    * appended instead of replacing) would have its unsniffed parts
    * mis-normalized — Spark itself cannot read such a directory under
    * one schema (the nanos shape surfaces as LongType, the others as
    * timestamps), so the mixed case fails loudly at load rather than
    * silently, and the O(1) sniff stays the right trade against
    * footer-scanning every part of a 100 TB dataset. tools/check.py
    * additionally enforces single-schema agreement across part files
    * on every dumped OUTPUT.
    */
  private def tsStoredAsNanos(s: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory) {
        // prefer *.parquet parts, but fall back to ANY visible data file:
        // non-Spark writers (or renamed parts) drop the suffix, and
        // missing the sniff on a nanos-encoded directory would fail the
        // read that the old always-set-conf behavior survived
        val parts = fs.listStatus(p).map(_.getPath)
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        parts.find(_.getName.endsWith(".parquet"))
          .orElse(parts.headOption)
          .getOrElse(return false)
      } else p
    // an unreadable/non-parquet candidate means "not sniffably nanos" —
    // let the actual load produce the canonical reader error
    val reader =
      try ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      catch { case _: Exception => return false }
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      if (!schema.containsField("ts")) return false
      val t = schema.getFields.get(schema.getFieldIndex("ts"))
      if (!t.isPrimitive) return false
      t.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
        case null =>
          t.asPrimitiveType().getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
        case _ => false
      }
    } finally reader.close()
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

object Dets {
  /** Exact decimal view of a measure column (inputs have <=4 frac digits). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a double measure, surfaced as DOUBLE. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Sum of an already-decimal expression, surfaced as DOUBLE. */
  def dsumDec(c: Column): Column = sum(c).cast("double")

  /** Deterministic average: exact decimal sum / group count, in DOUBLE. */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))

  /** Portable 60-bit positive hash: identical SQL exists in DuckDB
    * (`CAST('0x' || substring(md5(s),1,15) AS BIGINT)`), so hash-driven
    * operators (minhash, simhash, LSH buckets) stay oracle-checkable.
    * Collision space 2^60 is ample for bucketing/sketching at 100 TB
    * (not for exact identity — pair it with a verify step).
    */
  def phash(c: Column): Column =
    graft.functions.PortableHashExpr.graft_phash(c)

  /** SQL fragment computing phash(expr) in DuckDB. */
  def phashSql(expr: String): String =
    s"CAST('0x' || substring(md5($expr), 1, 15) AS BIGINT)"
}
