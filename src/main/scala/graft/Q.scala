package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: a Spark DataFrame builder plus (optionally)
  * the equivalent DuckDB SQL the driver hash-compares against at sf0.01.
  *
  * Determinism conventions (Spark vs DuckDB parity — see SURVEY.md §5):
  *  - Sums over doubles are computed as decimal-cast sums then cast back to
  *    double: exact in both engines, immune to FP summation-order drift.
  *  - Inherently-float aggregates (variance, cosine) are `round(_, k)` in
  *    BOTH engines before compare/rank.
  *  - Timestamps are emitted as formatted strings (Spark parquet stores
  *    UTC-adjusted ts, DuckDB naive ts — strings sidestep the mismatch).
  *  - Every ORDER BY spells out NULLS FIRST/LAST (Spark ASC defaults nulls
  *    first, DuckDB defaults nulls last).
  *  - Integer-ish outputs are cast to BIGINT on both sides (Spark `size()`
  *    is int32, DuckDB `len()` is int64; DuckDB floor() is double, Spark's
  *    is long).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    doc: String = "")

/** Table metadata read from parquet footers on the driver, so naming a
  * table costs no Spark job. `spark.read.parquet(path)` runs one job to
  * infer the schema from a footer, and `count()` runs two to add up row
  * counts the footers already hold.
  *
  * Nothing is memoized: every call lists the path and reads the footers
  * again, so a rewritten file is seen by the next caller. */
object ParquetMeta {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.format.converter.ParquetMetadataConverter
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.metadata.ParquetMetadata
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import scala.jdk.CollectionConverters._

  /** `spark.read.parquet(path)` with the schema taken from the footer of
    * the first data file, converted as Spark's own inference converts it
    * (`ParquetFileFormat.readSchemaFromFooter`: the Spark row-metadata key
    * when present, else the session-configured converter, so
    * `nanosAsLong` and the other parquet settings apply). Partition
    * columns are still inferred from the paths by Spark. A missing or
    * empty path falls through to `spark.read.parquet`, so Spark's own
    * error surfaces. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).headOption match {
      case Some(first) =>
        val footer = new Footer(first.getPath, readFooter(conf, first))
        val schema = ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Row count: the sum of the footers' row-group row counts. Above
    * Spark's `parallelPartitionDiscovery.threshold` data files (Spark's
    * own cutover from driver-side to job-side listing) it falls back to
    * `count()`, so a large table's footers are not read serially on the
    * driver. */
  def rows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val threshold = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    val files = dataFiles(conf, path).take(threshold + 1).toList
    if (files.isEmpty || files.length > threshold)
      read(spark, path).count()
    else files.iterator.map(readFooter(conf, _).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** Data files under `path` (the path itself when it is a file), sorted,
    * skipping `_*` and `.*` entries as Spark's file index does. Empty when
    * the path does not exist. Listed lazily, so a caller that needs the
    * first few files does not walk a large table. */
  private def dataFiles(conf: Configuration, path: String): LazyList[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(s: FileStatus) = {
      val n = s.getPath.getName
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }
    def walk(s: FileStatus): LazyList[FileStatus] =
      if (s.isDirectory)
        LazyList.from(fs.listStatus(s.getPath).filterNot(hidden).sortBy(_.getPath.getName)).flatMap(walk)
      else LazyList(s)
    try walk(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => LazyList.empty }
  }

  private def readFooter(conf: Configuration, f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER)
}

object T {
  /** Scan one driver table (see TESTDATA.md / FIXTURES.md §B).
    *
    * The schema comes from the table's parquet footer, read on the driver
    * ([[ParquetMeta.read]]), so building the frame starts no Spark job.
    * Nothing is memoized: each call reads the footer again, so a
    * rewritten table is seen by the next query.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * raw long under `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * [[Sessions]]); convert here (ns → µs floor) so queries see a real
    * timestamp column. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Ts.norm(ParquetMeta.read(spark, s"$sfDir/$name.parquet"))

  /** Decouple COMPUTE parallelism from SCAN parallelism. A parquet file
    * only splits at row-group boundaries, so a small-bytes input is ONE
    * scan task no matter how many cores exist — and a compute-dense
    * operator downstream (per-row cosine fan-out, gram winnowing, JSON
    * parse) then runs single-threaded. The sf1 rehearsal measured the
    * damage on the driver's single-file layout: q147 62 s / q191 72 s /
    * q127 31 s, all dominated by a 1-task stage (SCALE.md). This helper
    * repartitions ONLY for few-file inputs — at 100 TB inputs arrive as
    * thousands of files and it is a no-op, so the extra exchange is
    * never paid where it would hurt. (The check is FILE count, not
    * `rdd.getNumPartitions`: Spark's byte-range splitting reports ~32
    * "partitions" for a single-row-group 123 MB file while exactly one
    * of them carries the row group — partition count lies about work
    * distribution, file count does not for this layout. A single
    * multi-GB file would engage the spread too, which is the right call:
    * that file IS a layout bug.) In-memory frames (no input files, spec
    * fixtures) engage harmlessly.
    *
    * r17: hash-repartition on the frame's non-string scalar columns
    * (ids/numerics/dates) instead of round-robin `repartition(n)`.
    * Round-robin pays a full LOCAL SORT of the input first
    * (spark.sql.execution.sortBeforeRepartition, on since SPARK-23207 so
    * retried map tasks reproduce their row→partition assignment); a key
    * that is a pure function of the row needs no such sort — retries are
    * reproducible by construction (guide §2.5 "derive the synthetic key
    * deterministically"). Measured (sf0.1, min of 4; OPTIMIZATION_r17.md):
    * lineitem spread+noop 1.21→0.88 s, documents a wash (0.18 vs 0.17).
    * Every spread call site carries a high-cardinality id among its
    * non-string columns (doc_id / vec_id / event_id / lineitem keys), so
    * murmur3 of those columns cannot skew; text payloads stay unhashed.
    * Falls back to all columns when no scalar non-string column exists. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.inputFiles.length >= math.min(8, spark.sparkContext.defaultParallelism)) df
    else {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types._
      val keyish = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] ||
          f.dataType == DateType || f.dataType == TimestampType ||
          f.dataType == TimestampNTZType || f.dataType == BooleanType => col(f.name)
      }
      val keys = if (keyish.nonEmpty) keyish.toSeq else df.columns.toSeq.map(col)
      df.repartition(spark.sparkContext.defaultParallelism, keys: _*)
    }
}

/** Central session tuning shared by Verify / Bench / tests. local[N] is a
  * stand-in for a multi-executor cluster: shuffle partitions sized to cores
  * (not the 200 default), AQE on (runtime coalescing + skew-join splitting),
  * nanos parquet read enabled for the events table. */
/** The ONE place that knows how the driver data's `ts` column is stored.
  * Driver generations have shipped it two ways — parquet TIMESTAMP(NANOS)
  * (readable only as a raw long under `nanosAsLong`) and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ, which unix_micros /
  * window() reject) — so every consumer normalizes through here instead of
  * hard-coding one physical type. Under the UTC session the NTZ→LTZ cast
  * is the identity on the stored micros and matches DuckDB's naive
  * reading (SURVEY.md §5 timestamp convention). Works on batch AND
  * streaming frames (schema is known pre-execution for both). */
object Ts {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, expr, unix_micros}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

  /** Normalize a `ts` column of any driver generation to TIMESTAMP (LTZ). */
  def norm(df: DataFrame): DataFrame = df.schema.find(_.name == "ts").map(_.dataType) match {
    case Some(LongType) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Epoch-micros Column over the raw `ts` field of `schema`. */
  def microsCol(schema: StructType): Column = schema.find(_.name == "ts").map(_.dataType) match {
    case Some(LongType) => expr("ts div 1000")
    case Some(TimestampNTZType) => unix_micros(col("ts").cast(TimestampType))
    case _ => unix_micros(col("ts"))
  }

  /** Max of the raw `ts` column as epoch NANOS — the unit the streaming
    * sentinel arithmetic (watermark-flush rows far in the future) is
    * written in, independent of the storage type. */
  def maxNanos(s: SparkSession, path: String): Long = {
    val df = ParquetMeta.read(s, path)
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.agg(org.apache.spark.sql.functions.max(col("ts"))).head().getLong(0)
      case _ => df.agg(org.apache.spark.sql.functions.max(
        unix_micros(col("ts").cast(TimestampType)))).head().getLong(0) * 1000L
    }
  }

  /** Literal epoch-nanos value rendered in the raw `ts` type of `schema`
    * (so sentinel rows appended to a staged source parse under it) —
    * covers all three generations: long nanos, NTZ micros, LTZ micros. */
  def litNanos(schema: StructType, ns: Long): Column =
    schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => org.apache.spark.sql.functions.lit(ns)
      case Some(TimestampNTZType) =>
        expr(s"cast(timestamp_micros(${ns / 1000L}) as timestamp_ntz)")
      case _ => expr(s"timestamp_micros(${ns / 1000L})")
    }
}

object Sessions {
  def build(master: String, shufflePartitions: Int): SparkSession = {
    // Shuffle/cache local dir on tmpfs when available: this VM's root
    // disk throttles CONCURRENT buffered writes hard (32 shuffle writers
    // measured ~30/32 threads parked in FileOutputStream.write during
    // sf10 shuffles; a 1.25 GB dd alongside did not finish in 120 s),
    // while RAM sits idle — on a real cluster this is the
    // NVMe-local-disk site config, not engine semantics. Falls back to
    // the default /tmp when /dev/shm is absent. Respects an existing
    // SPARK_LOCAL_DIRS override.
    val localDir =
      if (sys.env.contains("SPARK_LOCAL_DIRS")) None
      else {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft_local") else None
      }
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.geo.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Fat single-JVM local mode: a long GC pause on a ≥64 GiB heap can
      // starve the driver-executor heartbeat past the 120 s default and
      // Spark then KILLS the only executor (observed at sf10: "no recent
      // heartbeats: 212226 ms" mid-query → context collapse). On a real
      // cluster executors are small and the default is right; here the
      // heartbeat carries no liveness signal the JVM doesn't already have.
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "600s")
    localDir.foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Warm the session with one trivial action before handing it out.
    // Measured (tools/Repro): in a COLD session, a union-with-filter plan
    // (q205/q234's planted branch) written via coalesce(1).write dies
    // inside Spark's UnionBase.rewriteConstraints with "key not found:
    // embedding#1" — an exprId-sensitive constraint-rewrite quirk that any
    // prior action makes unreachable. Centralized here so EVERY entrypoint
    // (Verify, Bench, tests, REPL) gets the mitigation, not just the ones
    // that remembered to add it. Costs ~ms on an already-warm session.
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }
}
