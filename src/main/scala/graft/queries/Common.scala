package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the driver-contract query packs.
  *
  * Determinism conventions (the driver hash-compares against DuckDB):
  *  - Every query ends in an explicit ORDER BY present in both dialects.
  *  - Money-like exact decimals are integerized *before* aggregation
  *    (`sum(round(x*100))` — integer-valued doubles sum exactly in any
  *    order), making sums bit-identical across engines.
  *  - Means are emitted as `round(1000 * exact_integer_sum / count)` so the
  *    division is a single deterministic IEEE op.
  *  - Continuous statistics (stddev, interpolation, trig) are emitted as
  *    `round(x * 10^k) :: BIGINT`; both engines round doubles
  *    half-away-from-zero and boundary collisions are measure-zero.
  *  - Timestamps are reduced to integer epoch micros (`unix_micros` /
  *    `epoch_us`) — both engines floor parquet ns to us identically.
  */
object Common {
  type Q = (SparkSession, String) => DataFrame

  /** Temp directory for a query's index-lifecycle artifacts. Under the
    * `graft.tmpdir` system property when set — Bench sets it to a
    * per-run private root so its between-query sweep can never touch a
    * concurrent process's directories (a parallel Verify or second bench
    * creating a matching `q<N>_*` name in the shared tmpdir used to be
    * sweepable mid-run) — else the plain JVM default, so Verify and ad-hoc
    * runs behave exactly as before.
    */
  def tempDir(prefix: String): String = {
    System.getProperty("graft.tmpdir") match {
      case null => java.nio.file.Files.createTempDirectory(prefix).toString
      case root =>
        val r = java.nio.file.Paths.get(root)
        java.nio.file.Files.createDirectories(r)
        java.nio.file.Files.createTempDirectory(r, prefix).toString
    }
  }

  /** Inferred-schema memo per table path (r18): the source tables are
    * immutable inputs, but every `spark.read.parquet` without a schema
    * runs a one-task footer-inference job — a bench pass reads the same
    * handful of tables hundreds of times. The memo caches only the
    * SCHEMA (metadata, never rows or results); each query still scans
    * the parquet data in full. Keyed by the absolute table path, so
    * different SF dirs never alias. The nanosAsLong flag is set before
    * both the first (inferring) and later (supplied-schema) reads, so
    * the memoized LongType for a TIMESTAMP(NANOS) `ts` stays the shape
    * the reader produces.
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    // If events.ts is parquet TIMESTAMP(NANOS) (pre-2026-08 testdata),
    // Spark 4 reads it only as a nanosecond BIGINT behind this legacy flag
    // (dynamic SQLConf); harmless for micros data, where the column
    // arrives as TIMESTAMP_NTZ instead — [[tsUs]] adapts to either.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.plans.Natives.ensure(s)
    val path = s"$dir/$name.parquet"
    schemaCache.get(path) match {
      case Some(sch) => s.read.schema(sch).parquet(path)
      case None =>
        val df = s.read.parquet(path)
        schemaCache.put(path, df.schema)
        df
    }
  }

  /** Epoch micros (BIGINT) from the `ts` column, whichever physical shape
    * it arrived in: BIGINT nanoseconds (parquet TIMESTAMP(NANOS) behind
    * the legacy flag, or a [[graft.ScaleUp]] replica table written as
    * plain ns BIGINT) floors ns -> us; TIMESTAMP/TIMESTAMP_NTZ (parquet
    * micros; NTZ cast resolves in the session's UTC zone) is exact. Both
    * equal DuckDB's `epoch_us(ts)` on the same file — the shared time
    * axis for every oracle-checked temporal query.
    */
  def tsUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => expr("ts div 1000")
    case _ => unix_micros(col("ts").cast("timestamp"))
  }

  /** Epoch nanos (BIGINT) from `ts` — micros-shaped columns upscale
    * exactly (x1000); used by [[graft.ScaleUp]] to re-jitter below the
    * microsecond every consumer observes.
    */
  def tsNs(df: DataFrame): Column = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => col("ts")
    case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
  }

  /** The events table with `ts_us`: epoch micros as BIGINT ([[tsUs]]). */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = table(s, dir, "events")
    df.withColumn("ts_us", tsUs(df))
  }

  /** Epoch microseconds as BIGINT (ntz-safe; for us/ms-precision columns). */
  def epochUs(ts: Column): Column = unix_micros(ts.cast("timestamp"))

  /** Continuous double -> fixed-point BIGINT at 10^scale.
    *
    * floor(x + 0.5), NOT round(x). The guarantee is cross-engine
    * DETERMINISM, not mathematical exactness: the x + 0.5 addition itself
    * rounds (e.g. x = 0.49999999999999994 yields floor(1.0) = 1, the
    * mathematically wrong integer), but both engines run the IDENTICAL
    * IEEE add+floor chain on the same x, so they produce the same integer
    * — including when x lands EXACTLY on a half boundary (observed for
    * the q42 quality score at sf0.001), where `round()` half-case
    * semantics are an engine/version dialect. Same discipline in
    * [[intSum]]/[[exactMeanMilli]] and the SQL mirrors.
    */
  def fp(c: Column, scale: Int = 3): Column =
    floor(c * lit(math.pow(10, scale)) + lit(0.5)).cast("long")

  /** Exact integer sum of a k-decimal value:
    * sum(floor(x*10^k + 0.5)) :: BIGINT. */
  def intSum(c: Column, k: Int = 2): Column =
    sum(floor(c * lit(math.pow(10, k)) + lit(0.5))).cast("long")

  /** Deterministic mean in milli-units of a k-decimal value. */
  def exactMeanMilli(c: Column, k: Int = 2): Column =
    floor(lit(1000.0) * sum(floor(c * lit(math.pow(10, k)) + lit(0.5))) /
      lit(math.pow(10, k)) / count(c) + lit(0.5)).cast("long")

  // SQL-side mirrors (DuckDB dialect, ANSI-portable).
  def sqlFp(x: String, scale: Int = 3): String =
    s"CAST(floor(($x) * ${math.pow(10, scale)} + 0.5) AS BIGINT)"
  def sqlIntSum(x: String, k: Int = 2): String =
    s"CAST(sum(floor(($x) * ${math.pow(10, k)} + 0.5)) AS BIGINT)"
  def sqlExactMeanMilli(x: String, k: Int = 2): String =
    s"CAST(floor(1000.0 * sum(floor(($x) * ${math.pow(10, k)} + 0.5)) / ${math.pow(10, k)} / count($x) + 0.5) AS BIGINT)"
}
