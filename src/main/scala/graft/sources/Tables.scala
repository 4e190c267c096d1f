package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver testdata (TESTDATA.md) and generic NDJSON/JSON
  * sources (SURVEY.md §2.1 S1/S2).
  *
  * Parquet scans here are the leaves of every query plan; keeping them
  * bare `spark.read.parquet` (no cache, no repartition) lets Catalyst
  * push filters and prune columns into the scan — verify with
  * `.explain`: `PushedFilters: [...]`, `ReadSchema` minimal.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  /** events.ts has shipped in two encodings across driver testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader only accepts as a long via the session-level legacy
    * nanosAsLong conf (set by GraftSession at build time; a reader must
    * not mutate session conf) — and plain TIMESTAMP(MICROS). Normalize
    * both to a microsecond TimestampNTZ from the footer schema actually
    * read (ns→µs truncation is lossless, the data is µs-precision).
    * Fails fast with a pointer if nanos arrive without the conf. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        require(s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
          "events.parquet is TIMESTAMP(NANOS): build the session via graft.GraftSession " +
            "(or set spark.sql.legacy.parquet.nanosAsLong=true at session build) before reading events")
        raw.withColumn("ts",
          timestamp_micros((col("ts") / 1000).cast("long")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Round-robin spread of a COARSE scan — the optimization-guide §2.5
    * "one huge unsplittable file" case: the local test parquet ships as
    * a single single-row-group file, so the scan stage — and every
    * operator pipelined into it (token explodes, n-gram generation,
    * partial aggregates) — runs as ONE task no matter the core count
    * (the r15 PERF scaling block's sub-1 core ratios across the text
    * family all trace to this). When the source resolves to fewer files
    * than half the default parallelism, insert one round-robin exchange
    * of the RAW rows (KBs here) so the expensive downstream compute
    * parallelizes; on a lake layout (thousands of files) the gate
    * disables itself and the plan is unchanged — the condition adapts
    * to the DATA LAYOUT, not to this host's core count. Applied
    * selectively at compute-heavy text pipelines, never at
    * aggregate-first relational scans (where shuffling raw rows would
    * exceed the aggregate's own shuffle — §2.3 aggregate-before-
    * shuffle). */
  def spreadIfCoarse(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length * 2 < par) df.repartition(par) else df
  }

  /** S2 NDJSON scan (dags/utils.py:81-84): line-delimited is Spark's
    * default JSON mode; explicit schema avoids an inference pass. */
  def ndjson(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
             path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** S2 NDJSON scan with a CORRUPT-RECORD AUDIT (the row-level
    * analogue of the reference's file-level failure logging): malformed
    * lines land in a quarantine frame instead of silently becoming
    * all-null rows or failing the job. Returns (clean, quarantine) —
    * clean rows carry the declared schema; quarantine rows carry the
    * offending raw line for the audit log. The permissive read is
    * cached because Spark only materializes `_corrupt_record` for
    * queries that also project data columns — filtering on the corrupt
    * column alone against the raw scan is unsupported without it. */
  def ndjsonAudited(spark: SparkSession,
                    schema: org.apache.spark.sql.types.StructType,
                    path: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    require(!schema.fieldNames.contains("_graft_corrupt"),
      "schema may not declare the reserved _graft_corrupt column")
    val withCorrupt = schema.add("_graft_corrupt", org.apache.spark.sql.types.StringType)
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_graft_corrupt")
      .json(path)
      .cache()
    val clean = raw.filter(col("_graft_corrupt").isNull).drop("_graft_corrupt")
    val quarantine = raw.filter(col("_graft_corrupt").isNotNull)
      .select(col("_graft_corrupt").as("raw_line"))
    (clean, quarantine)
  }

  /** Typed scrape-contract view (SURVEY.md §1.2): `Dataset[Product]`
    * over a cleaned-products NDJSON — the compile-time analogue of the
    * reference's pydantic validation boundary. Encoder failure = the
    * schema contract broke (the fail-fast the reference gets at runtime). */
  def typedProducts(spark: SparkSession, path: String): org.apache.spark.sql.Dataset[graft.schema.Product] = {
    import spark.implicits._
    // raw schema keeps speeds as strings (pre-clean contract)
    ndjson(spark, graft.schema.Schemas.rawProduct, path).as[graft.schema.Product]
  }

  /** S1 raw JSON scan (dags/transform.py:32-49): whole-file JSON with a
    * single wrapper key, `{header: [record, ...]}`, read with the declared
    * record `schema` (no inference pass) and unwrapped by exploding the
    * array; an empty array reads as zero rows. FAILFAST: a malformed file
    * fails the read instead of reading as a null wrapper, zero rows. */
  def wrappedJson(spark: SparkSession, header: String,
                  schema: org.apache.spark.sql.types.StructType, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
    spark.read.schema(StructType(Seq(StructField(header, ArrayType(schema)))))
      .option("multiLine", value = true).option("mode", "FAILFAST").json(path)
      .select(explode(col(header)).as("r"))
      .select(col("r.*"))
  }
}
