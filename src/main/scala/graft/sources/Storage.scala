package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

/** Parquet table storage layer (SURVEY.md §2.1 S9-S11): the engine's
  * load/DDL surface over date-partitioned parquet directories.
  *
  *  - [[read]] ⇔ reading a table whose schema is declared in its DDL
  *    (reference bigquery_service.py:110-260): every read states the
  *    schema its writer declared, so no read discovers one. A declared
  *    column that older files lack reads as null (the reference's
  *    ALLOW_FIELD_ADDITION); a file that types a declared column
  *    differently fails loudly (DEVIATIONS.md §15).
  *  - [[loadAppend]] ⇔ WRITE_APPEND (reference
  *    bigquery_service.py:265-300): parquet append in the frame's own
  *    schema, which the engine's transforms fix to their templates.
  *  - [[loadTruncate]] ⇔ WRITE_TRUNCATE (bigquery_service.py:302-309).
  *  - the idempotent DDL bootstrap (bigquery_service.py:97-260) has
  *    no step of its own: the first write declares the layout. DAY
  *    partitioning becomes `partitionBy(dateCol)`, clustering fields
  *    become `sortWithinPartitions` on write — at 100 TB this is what
  *    makes per-day pruning + within-file key locality (min/max
  *    row-group skipping) work.
  */
object Storage {

  /** Append in the frame's own schema. The row count is observed
    * DURING the write (one pass) — a separate count() would evaluate
    * the whole upstream transform pipeline twice.
    */
  def loadAppend(df: DataFrame, path: String,
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Nil): Long =
    loadAppendObserving(df, path, Nil, partitionCol, clusterBy)._1

  /** [[loadAppend]] that also evaluates `stats` — named aggregate
    * columns over `df`, such as a batch's max timestamp — on the same
    * write job. Returns the row count and each stat by name (null over
    * an empty batch, as SQL aggregates are). A caller that ran its own
    * `df.agg(...)` after the append would re-run the whole upstream
    * lineage (parse, dedup, transform) a second time.
    */
  def loadAppendObserving(df: DataFrame, path: String, stats: Seq[Column],
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Nil): (Long, Map[String, Any]) =
    writeObserved(df, stats) { observed =>
      val sorted =
        if (clusterBy.nonEmpty)
          observed.sortWithinPartitions(clusterBy.map(col): _*)
        else observed
      val w = sorted.write.mode("append")
      partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
    }

  /** Full overwrite (snapshot semantics). The input is materialized
    * first, so a caller may overwrite the table it reads from; the row
    * count is observed on the write of that materialized copy, so the
    * input (such as a snapshot merged with the table it replaces) is
    * evaluated once, not once for a count() and again for the
    * checkpoint.
    */
  def loadTruncate(df: DataFrame, path: String): Long =
    writeObserved(df.localCheckpoint(eager = true), Nil) {
      _.write.mode("overwrite").parquet(path)
    }._1

  /** Runs `write` over `df` with a row count and `stats` observed on
    * the write job itself; returns the count and the stats by name.
    */
  private def writeObserved(df: DataFrame, stats: Seq[Column])(
      write: DataFrame => Unit): (Long, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("n"), stats: _*))
    val m = obs.get
    (m("n").asInstanceOf[Long], m - "n")
  }

  /** The parquet table read: `schema` is the one its writer declared,
    * so the read runs no schema-discovery job. A declared column that a
    * file lacks reads as null; [[checkFooter]] fails a file that types
    * one differently. Columns that no declaration names are not read.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val df = spark.read.schema(schema).parquet(path)
    checkFooter(df, schema)
    df
  }

  /** Checks `declared` against the footer of one of `table`'s files,
    * read directly (not in a Spark job): a column that the footer types
    * differently fails loudly, naming the file. Returns the declared
    * columns the footer lacks. Partition columns live in directory
    * names, not in footers, and are skipped. One footer stands for the
    * table: every file of a table is written in its writer's declared
    * schema, and the file count grows with every append, which a check
    * of every footer would re-read on every read.
    */
  private[graft] def checkFooter(table: DataFrame, declared: StructType): Seq[String] =
    table.inputFiles.headOption.toSeq.flatMap { file =>
      val found = footerSchema(table.sparkSession, new Path(file))
      val dirs = file.split('/')
      val stored = declared.filterNot(c => dirs.exists(_.startsWith(c.name + "=")))
      for (c <- stored; g <- found.find(_.name == c.name) if g.dataType != c.dataType)
        throw new IllegalStateException(s"$file types ${c.name} as " +
          s"${g.dataType.simpleString}, but ${c.name} is declared ${c.dataType.simpleString}")
      stored.map(_.name).filterNot(found.fieldNames.contains)
    }

  /** The columns of one parquet file, read from its footer on the
    * driver (not in a Spark job) and converted as Spark's reader
    * converts them.
    */
  private[graft] def footerSchema(spark: SparkSession, file: Path): StructType =
    new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(
      ParquetFileReader.readFooter(HadoopInputFile.fromPath(file,
        spark.sessionState.newHadoopConf()), NO_FILTER).getFileMetaData.getSchema)

  /** Rewrite-and-swap skeleton of the index compactions
    * ([[graft.operators.IndexCommit.compact]]): `write(tmpPath)`
    * produces the replacement table, then the live dir is swapped via
    * PARK-then-replace, NOT
    * delete-then-rename — a crash between a delete and a rename would
    * leave NO live table with the data stranded in tmp. Here the
    * no-table window is one rename wide and every crash position is
    * recoverable: mid-write leaves the original untouched (stale tmp
    * deleted on the next run); between the renames leaves the original
    * parked at `.compact-old` (restored on the next run); after leaves
    * only stale debris.
    */
  private[graft] def rewriteInPlace(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val pPath = new org.apache.hadoop.fs.Path(path)
    val pTmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    val pOld = new org.apache.hadoop.fs.Path(path + ".compact-old")
    val fs = pPath.getFileSystem(spark.sessionState.newHadoopConf())
    // Crash recovery first: a prior run that died between its two swap
    // renames left the live table parked at .compact-old — put it back.
    if (!fs.exists(pPath) && fs.exists(pOld)) fs.rename(pOld, pPath)
    if (fs.exists(pTmp)) fs.delete(pTmp, true)
    write(pTmp.toString)
    if (fs.exists(pOld)) fs.delete(pOld, true)
    fs.rename(pPath, pOld)
    fs.rename(pTmp, pPath)
    fs.delete(pOld, true)
  }

  /** Bucketed managed table: pre-shuffled layout on the join/agg key.
    * Two tables bucketed on the same key with the same count join with
    * NO exchange on either side — the co-located join that at 100 TB
    * removes the dominant cost of repeated fact-fact joins
    * (SURVEY.md §4 "Clustering / data layout"). `sortBy` gives
    * sort-merge joins pre-sorted runs and row-group locality.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path",
        df.sparkSession.conf.get("spark.sql.warehouse.dir") + "/" + table)
      .saveAsTable(table)

  /** A table "exists" when its directory holds data files (a bare
    * _SUCCESS marker from an empty write doesn't count — there is no
    * separate DDL in a parquet warehouse; the first data write declares
    * the layout, see [[graft.operators.Upsert.applyToPartitionedParquet]]).
    * Probed through the Hadoop FileSystem so hdfs:// / s3a:// paths work
    * — a java.io.File probe would report every remote table as absent
    * and let a "first write" overwrite it.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists { f =>
      val n = f.getPath.getName
      n.endsWith(".parquet") || n.contains("=")
    }
  }

  /** Columnar formats whose scans support predicate pushdown + column
    * pruning in Spark — the formats [[exportAs]] admits for TABLE
    * interchange. Row formats (csv/json) are deliberately excluded
    * from this surface: they lose types and stats and their ingest
    * path is [[JsonlSource]] (with quarantine), not a table export.
    */
  private val columnarFormats = Set("parquet", "orc")

  /** Format-portable table export (the S9 layout discipline for
    * non-parquet consumers — ORC is the interchange format half the
    * Hadoop estate still speaks): same partition-pruning layout
    * (`partitionBy`) and within-partition key locality
    * (`sortWithinPartitions` → row-group/stripe min-max skipping) as
    * the parquet path, so a consumer's pruned scan reads the same
    * fraction of bytes either way.
    */
  def exportAs(df: DataFrame, path: String, format: String,
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Nil): Unit = {
    require(columnarFormats(format),
      s"exportAs supports ${columnarFormats.mkString("/")}, got '$format'")
    val sorted =
      if (clusterBy.nonEmpty)
        df.sortWithinPartitions(clusterBy.map(col): _*)
      else df
    val w = sorted.write.mode("overwrite").format(format)
    partitionCol.fold(w)(c => w.partitionBy(c)).save(path)
  }

  /** Read back an [[exportAs]] table: the union schema of all files
    * surfaces (`mergeSchema`).
    */
  def readAs(spark: SparkSession, path: String, format: String): DataFrame = {
    require(columnarFormats(format),
      s"readAs supports ${columnarFormats.mkString("/")}, got '$format'")
    spark.read.format(format).option("mergeSchema", "true").load(path)
  }
}
