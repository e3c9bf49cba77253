package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Table loading mirroring the reference's input handling
  * (reference: sutro/common.py:119 `prepare_input_data` — list, DataFrame,
  * csv/parquet/txt path, dataset id). Spark-side, every input becomes a
  * DataFrame read through the DataSource API so filters/projection push down.
  */
object Tables {
  /** Load one of the driver-generated test tables from an sf directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without Spark's schema-inference job: the
    * schema comes from the footer of the one file inference reads with
    * mergeSchema off (`_common_metadata`, else `_metadata`, else the first
    * data file by path), read on the driver by Spark's own converter. With
    * no such file, schema merging on, an unreadable footer or a data column
    * also named by a `k=v` directory, this is `spark.read.parquet` itself. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val (root, conf) = (new Path(path), spark.sessionState.newHadoopConf())
    val fs = root.getFileSystem(conf)
    var partCols = Set.empty[String]
    // listed as Spark lists: hidden names dropped at every level
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(f => GraftBridge.hiddenPathName(f.getPath.getName)).flatMap { f =>
        if (!f.isDirectory) Seq(f)
        else { partCols ++= f.getPath.getName.split("=", 2).init.map(_.toLowerCase); leaves(f.getPath) }
      }
    val files = if (fs.exists(root)) leaves(root).sortBy(_.getPath.toString) else Nil
    val summaries = Seq("_common_metadata", "_metadata")
    val touched = (summaries.flatMap(n => files.find(_.getPath.getName == n)) ++
      files.filterNot(f => summaries.contains(f.getPath.getName))).headOption
    touched.filter(_ => !spark.sessionState.conf.isParquetSchemaMergingEnabled).flatMap { f =>
      try Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      catch { case NonFatal(_) => None }
    }.filterNot(_.fieldNames.exists(n => partCols(n.toLowerCase)))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** events.parquet has carried two parquet encodings across driver data
    * generations: TIMESTAMP(NANOS), which Spark has no native type for (with
    * spark.sql.legacy.parquet.nanosAsLong=true it arrives as long nanos), and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    * TIMESTAMP_NTZ. Both normalize to session-TZ TimestampType here so every
    * consumer (watermarks, unix_micros, window()) sees one type. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"), "ts")

  /** Normalize a timestamp-carrying column to microsecond TimestampType:
    * long nanos are truncated with DIV (not double math — ns values exceed
    * the 53-bit double mantissa); TIMESTAMP_NTZ is reinterpreted in the
    * session time zone (UTC for every graft session, so the wall-clock is
    * preserved exactly); TimestampType passes through. */
  def normalizeTs(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Generic file loader keyed on extension, like prepare_input_data:
    * .csv → header csv, .parquet → parquet, .txt/no-ext → one line per row. */
  def load(spark: SparkSession, path: String): DataFrame = {
    val ext = path.lastIndexOf('.') match {
      case -1 => ""
      case i  => path.substring(i + 1).toLowerCase
    }
    ext match {
      case "parquet"       => parquet(spark, path)
      case "orc"           => spark.read.orc(path)
      case "csv"           => spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      case "json" | "jsonl" => spark.read.json(path)
      case "txt" | ""      => spark.read.text(path).withColumnRenamed("value", "line")
      case other           => throw new IllegalArgumentException(s"Unsupported file type: .$other")
    }
  }
}

/** Physical-layout helpers for the 100 TB posture: partitioned writes (so
  * scans prune directories) and bucketed tables (so repeated equi-joins
  * and aggregations on the bucket key run with NO shuffle on either side).
  * Local tests assert the plan properties (PartitionFilters on the scan;
  * no Exchange under a bucketed join) — the same properties that hold on
  * a real cluster.
  */
object Layout {
  import org.apache.spark.sql.DataFrame

  /** Write `df` partitioned by the given columns; readers filtering on
    * them scan only the matching directories (partition pruning). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Spread a bytes-small, compute-heavy DataFrame over every core before
    * it becomes the streamed side of a broadcast nested-loop join.
    *
    * The rule this encodes: a broadcast NLJ's parallelism is the STREAMED
    * side's partition count, and Spark sizes scan partitions by BYTES
    * (`spark.sql.files.maxPartitionBytes`). An embedding or PQ-code table
    * is bytes-small (n x dim floats compress to a few hundred MB even at
    * 100 M rows) while the fused probe work is compute-huge (O(rows x
    * broadcast rows x dim)), so file-split sizing hands the whole scan to
    * a handful of tasks. Measured twice at sf10 before this rule existed:
    * 4 of 32 cores busy for 76 min (Dedup.embeddingPairs) and for hours
    * (Dedup.decontaminateEmbeddings). One explicit repartition-by-num
    * costs a tiny shuffle (the table is bytes-small by premise), spreads
    * the probe loop over every core, and — unlike heuristic shuffles —
    * survives AQE coalescing, which would merge bytes-small partitions
    * right back together.
    *
    * Broadcast-scalar crossJoins (a row of totals/bounds fused into a
    * narrow pass) do NOT need this: per-row cost there is a few arithmetic
    * ops, so file-split parallelism is proportional to the actual work. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Persist `df` as a bucketed+sorted managed table: `numBuckets` by
    * `bucketCol`. Joins/aggregations between tables bucketed the same way
    * skip the shuffle entirely — the co-location is in the layout. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)
}
