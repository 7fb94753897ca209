package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout utilities for repeated large-scale joins/aggregations:
  * bucketing co-locates both sides of an equi-join at WRITE time, so
  * every subsequent join/aggregation on the bucket keys runs with ZERO
  * shuffle — the decisive optimization when a 100 TB fact table is
  * joined on the same key by many queries.
  *
  * Spark persists bucket metadata in the session catalog
  * (`saveAsTable`), and the scan reports one InputPartition per bucket;
  * `spark.sql.sources.bucketing.enabled` (default true) lets the planner
  * drop the Exchange on matching bucket specs.
  */
object Layout {

  /** Write `df` as a bucketed+sorted catalog table. `numBuckets` should
    * be sized so one bucket of the LARGER table fits an executor's
    * memory comfortably (e.g. 100 TB / 8192 buckets ≈ 12 GB per bucket
    * pre-compression).
    */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    var w = df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.format("parquet").saveAsTable(tableName)
  }

  /** Read back a bucketed table (bucket metadata comes from the catalog,
    * so the optimizer can elide exchanges on bucket-key joins/aggs).
    */
  def readBucketed(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /** Write `df` Z-ordered on two numeric columns — the
    * space-filling-curve layout behind multi-dimensional data skipping
    * (Delta/Iceberg OPTIMIZE ZORDER): each value pair rescales to a
    * `[0, 2^bits)` grid (bounds from one narrow agg over the input —
    * write-time cost, read-time benefit, the same trade as bucketing),
    * the coordinates interleave into a Morton key via a codegen'd
    * higher-order fold (no UDF), and rows range-repartition + sort by
    * that key into `numFiles` files. Every file then covers one curve
    * segment — a 2-D TILE — so per-file parquet min/max statistics stay
    * tight on BOTH columns and selective filters on EITHER column (or
    * both) skip the files whose tile misses the predicate. A linear
    * sort key only ever buys pruning on its leading column; LayoutSpec
    * measures the per-file span shrink against an unordered write.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val Array(aMin, aMax, bMin, bMax) =
      df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double"))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
    val top = (1L << bits) - 1
    def norm(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      if (hi > lo)
        least(lit(top), greatest(lit(0L),
          floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(top.toDouble))
            .cast("long")))
      else lit(0L)
    val withZ = df
      .withColumn("__za", norm(col(colA), aMin, aMax))
      .withColumn("__zb", norm(col(colB), bMin, bMax))
      .withColumn("__z", expr(
        s"""aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) ->
           |  acc
           |  | shiftleft(shiftright(__za, i) & 1L, 2 * i)
           |  | shiftleft(shiftright(__zb, i) & 1L, 2 * i + 1))""".stripMargin))
    withZ
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__za", "__zb", "__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Write `df` to `path`/data in `numFiles` parquet files plus a
    * per-file Bloom SIDECAR table at `path`/_bloom (underscore-prefixed
    * → invisible to normal parquet discovery): one row per data file
    * holding a Bloom filter over `xxhash64(keyCol)`. Point lookups on a
    * high-cardinality key then open only the files whose filter fires —
    * the skip index parquet min/max stats can't provide when the key is
    * uniform across files (hashed ids, UUIDs), complementing
    * [[writeZOrdered]]'s range-clustered skipping. Bloom filters have
    * no false negatives, so [[bloomIndexedLookup]] is exact; false
    * positives only cost extra file opens (~`numBits/items` bits per
    * key ⇒ ~2% at the default 8). For NON-unique keys the layout
    * should concentrate each key first (bucket or Z-order) or every
    * file containing the key is opened — documented, not enforced.
    *
    * The sidecar is built from one read-back of the written files
    * grouped by `_metadata.file_path` — a write-time cost (like
    * bucketing's) bought once per dataset. At 100 TB / 128 MB files
    * that is ~800k sidecar rows of ~`numBits/8` bytes each — a driver
    * collect at LOOKUP time only of the (file, filter) pairs, so size
    * `items`/`numBits` to the real per-file row count, not a ceiling.
    */
  def writeBloomIndexed(df: DataFrame, path: String, keyCol: String,
      numFiles: Int, items: Long = 1000000L, numBits: Long = 8000000L): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    df.repartition(numFiles)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/data")
    graft.Util.withBloomClamps(spark, items, numBits) {
      spark.read.parquet(s"$path/data")
        .select(col("_metadata.file_path").as("file"), col(keyCol))
        .groupBy(col("file"))
        .agg(expr(s"bloom_filter_agg(xxhash64(`$keyCol`), ${items}L, ${numBits}L)").as("bf"),
          count(lit(1)).as("n_rows"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/_bloom")
    }
  }

  /** The data files whose sidecar Bloom filter fires for `value` — the
    * file list [[bloomIndexedLookup]] will open. The probe hashes the
    * value with the SAME engine expression the sidecar was built with
    * (`xxhash64` after a cast to the key's column type, evaluated in a
    * 1-row local job — no reimplemented hash to drift) and tests each
    * collected (file, filter) pair with the public sketch API.
    */
  def bloomCandidateFiles(spark: SparkSession, path: String, keyCol: String,
      value: Any): Seq[String] = {
    import org.apache.spark.sql.functions._
    val keyType = spark.read.parquet(s"$path/data").schema(keyCol).dataType
    val h = spark.range(1)
      .select(xxhash64(lit(value).cast(keyType)).as("h"))
      .head().getLong(0)
    spark.read.parquet(s"$path/_bloom").select(col("file"), col("bf")).collect()
      .filter { r =>
        val bytes = r.getAs[Array[Byte]]("bf")
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(h)
      }
      .map(_.getAs[String]("file")).toSeq
  }

  /** Exact point lookup `keyCol = value` over a [[writeBloomIndexed]]
    * dataset, reading ONLY the Bloom-candidate files (no false
    * negatives ⇒ same rows as a full scan with the filter; the residual
    * predicate still applies inside the opened files, so Bloom false
    * positives cannot leak rows).
    */
  def bloomIndexedLookup(spark: SparkSession, path: String, keyCol: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val data = spark.read.parquet(s"$path/data")
    val keyType = data.schema(keyCol).dataType
    val files = bloomCandidateFiles(spark, path, keyCol, value)
    val base =
      if (files.isEmpty) data.filter(lit(false))
      else spark.read.schema(data.schema).parquet(files: _*)
    base.filter(col(keyCol) === lit(value).cast(keyType))
  }

  /** True when the physical plan of `df` contains no shuffle exchange —
    * the property bucketing is meant to buy for bucket-key joins.
    * Counts actual [[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]]
    * nodes (descending into adaptive plans and materialized query
    * stages) rather than string-matching the plan text, so range
    * partitioning, single-partition exchanges, and AQE's re-printed
    * shuffles all count.
    */
  def isShuffleFree(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(p: SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeLike => 1
        case _ => 0
      }
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(shuffles).sum
    }
    shuffles(df.queryExecution.executedPlan) == 0
  }
}
