package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{PrimitiveType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation,
  DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation,
  StringLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, SchemaBridge}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The per-file statistics path of the zone-map manifests: given a file
  * list, [[of]] returns one row per file (`file`, `n_rows`, and
  * `<c>_min` / `<c>_max` / `<c>_nulls` per column) read off the files'
  * parquet FOOTERS — a file's row count, and per column its null count and
  * [min, max], are the row-group statistics the writer already put there
  * (the load-time statistics of the SIGMOD 2011 parallel loader), so a
  * manifest of files written a moment earlier costs no second scan of
  * them. Otherwise it runs the caller's [[aggregate]] scan, the one
  * per-file aggregate list, which also carries the `<c>_bloom` key
  * blooms no footer holds.
  *
  * Footer rows are the ones the scan gives, value for value and with its
  * schema, or none at all: a file whose footer cannot give them exactly
  * makes [[footerRows]] answer None and [[of]] scan. That is
  *   - a file not written by Spark ≥ 3.0 (no Spark row schema in the
  *     footer) or written with calendar rebasing (a legacy-rebase key);
  *   - a float or double column (the scan's min/max order NaN above every
  *     value and tell -0.0 from 0.0; footer statistics do neither);
  *   - a column whose statistics a row group lacks (INT96 timestamps,
  *     binary values over parquet's 4 KB statistics limit);
  *   - a timestamp stored in any unit but microseconds (Spark's own);
  *   - any other column type, a nested column, or files that disagree on
  *     a column's type.
  * A file holding no rows gives no row, as no group of the scan does. */
private[sources] object FileStats {

  private val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One file's manifest row: the columns' Spark types and the row's
    * values (`file`, `n_rows`, then `<c>_min`, `<c>_max`, `<c>_nulls` per
    * column) in their external (collected) form. */
  private final case class FileRow(types: Seq[DataType], values: Array[Any])

  /** The form `input_file_name()` gives a listed file (URL-encoded,
    * `file:///…`), which manifest rows carry. */
  def fileName(f: FileStatus): String = SparkPath.fromPath(f.getPath).urlEncoded

  /** `dir`'s data files as Spark's listing sees them (names starting with
    * `_` or `.`, and `._COPYING_` leftovers, skipped), or None when the
    * directory is not a flat set of data files: it is missing, holds a
    * subdirectory (a partitioned layout), or holds a parquet summary file
    * (`_metadata`, `_common_metadata`), which schema inference reads. One
    * `listStatus` on the driver, as Spark lists a single root. */
  def listing(spark: SparkSession, dir: String): Option[Seq[FileStatus]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val all =
      try fs.listStatus(fs.makeQualified(p))
      catch { case _: java.io.FileNotFoundException => return None }
    val names = all.map(_.getPath.getName)
    def hidden(n: String): Boolean =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    val data = all.filterNot(s => hidden(s.getPath.getName))
    if (names.exists(n => n.startsWith("_metadata") ||
        n.startsWith("_common_metadata")) || data.exists(_.isDirectory)) None
    else Some(data.toSeq)
  }

  /** The manifest of `files` (None when no listing could be taken): the
    * rows off their footers when no bloom is asked and every footer gives
    * the scan's exact row — no Spark job below Spark's parallel-listing
    * threshold — else `scan`, an [[aggregate]] over the same files. */
  def of(spark: SparkSession, files: => Option[Seq[FileStatus]],
         cols: Seq[String], bloomCols: Seq[String],
         scan: => DataFrame): Either[DataFrame, (StructType, Array[Row])] =
    (if (bloomCols.nonEmpty) None
     else files.flatMap(footerRows(spark, _, cols))).toRight(scan)

  /** The one per-file aggregate list every manifest scan runs over `df`:
    * `n_rows`, the envelope of each of `cols` and `bloomCols`, and
    * `bloom` of each bloom column, grouped by the file each row came from. */
  def aggregate(df: DataFrame, cols: Seq[String], bloomCols: Seq[String],
                bloom: String => Column): DataFrame = {
    val statCols = cols ++ bloomCols.filterNot(cols.contains)
    val aggs = count(lit(1)).as("n_rows") +: (statCols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
    } ++ bloomCols.map(c => bloom(c).as(s"${c}_bloom")))
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** A per-group Bloom filter over `keyCol` cast to long — the sketch the
    * membership manifests insert with; the driver probe uses the
    * library's own `mightContainLong`, the exact hash, so a present key can
    * never probe false (no false negatives). */
  def bloomAgg(keyCol: Column, expectedKeysPerFile: Long, fpp: Double): Column = {
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0, 1)")
    bloomAggSized(keyCol, expectedKeysPerFile, math.ceil(
      -expectedKeysPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
  }

  /** [[bloomAgg]] with the bit width pinned directly — the fold path sizes
    * fresh-file blooms to the STANDING manifest's measured width instead of
    * re-deriving it from a (possibly wrong) expectedKeysPerFile guess. */
  def bloomAggSized(keyCol: Column, expectedItems: Long, numBits: Long): Column =
    ColumnBridge.toColumn(new BloomFilterAggregate(
      ColumnBridge.toExpression(keyCol.cast("long")),
      Literal(math.max(1L, expectedItems)),
      Literal(math.max(64L, numBits))).toAggregateExpression())

  /** `dir`'s data files in manifest form ([[fileName]]) and their
    * statuses ([[listing]] — no schema-inference job), or, when the
    * listing cannot be taken (a partitioned layout), the file list of a
    * `spark.read.parquet` of `dir`. */
  def dataFiles(spark: SparkSession,
                dir: String): (Seq[String], Option[Seq[FileStatus]]) =
    listing(spark, dir) match {
      case Some(fs) => (fs.map(fileName), Some(fs))
      case None => (spark.read.parquet(dir).inputFiles.toSeq, None)
    }

  /** The reader for a scan of files a manifest's `standing` rows do not
    * cover yet: with the schema those rows already name for `statCols`
    * (their `<c>_min` types), or with no standing rows the `statCols`
    * fields of the writer's `schema`, made nullable as a parquet read
    * gives them — so the scan runs no schema-inference job. Plain
    * inference when neither is known. */
  def reader(spark: SparkSession, standing: Array[Row], statCols: Seq[String],
             schema: Option[StructType] = None): DataFrameReader =
    standing.headOption.flatMap(r => scala.util.Try(StructType(
      statCols.distinct.map(c => StructField(c, r.schema(s"${c}_min").dataType))))
      .toOption)
      .orElse(schema.flatMap(s => scala.util.Try(SchemaBridge.asNullable(
        StructType(statCols.distinct.map(s(_))))).toOption))
      .fold(spark.read)(spark.read.schema(_))

  /** The manifest rows of `files` for `cols`, with the schema
    * [[ZoneMaps.build]] gives them — or None when some footer cannot give
    * the scan's exact row (see the object's note) or `files` is empty.
    * Footers are read on the driver, or, above Spark's
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files, in
    * one job over the file list, split as Spark splits a parallel
    * listing. */
  def footerRows(spark: SparkSession, files: Seq[FileStatus],
                 cols: Seq[String]): Option[(StructType, Array[Row])] = {
    val conf = spark.sessionState.conf
    val java8 = conf.datetimeJava8ApiEnabled
    val hadoopConf = spark.sessionState.newHadoopConf()
    val sized = files.map(f => (SparkPath.fromPath(f.getPath), f.getLen))
    val read: Seq[Option[FileRow]] =
      if (sized.length <= conf.parallelPartitionDiscoveryThreshold)
        sized.map { case (p, len) => fileRow(hadoopConf, p, len, cols, java8) }
      else {
        val shipped = new SerializableConfiguration(hadoopConf)
        spark.sparkContext.parallelize(sized,
            math.min(sized.length, conf.parallelPartitionDiscoveryParallelism))
          .map { case (p, len) => fileRow(shipped.value, p, len, cols, java8) }
          .collect().toSeq
      }
    val found = read.flatten
    if (found.isEmpty || found.length < read.length ||
        found.exists(_.types != found.head.types)) None
    else {
      val schema = StructType(
        StructField("file", StringType, nullable = false) +:
          StructField("n_rows", LongType, nullable = false) +:
          cols.zip(found.head.types).flatMap { case (c, t) =>
            Seq(StructField(s"${c}_min", t), StructField(s"${c}_max", t),
              StructField(s"${c}_nulls", LongType))
          })
      Some(schema -> found.filter(_.values(1) != 0L)
        .map(r => new GenericRowWithSchema(r.values, schema): Row).toArray)
    }
  }

  /** A Spark-written parquet directory (a persisted manifest) read with
    * the row schema its footers carry — no schema-inference job — and its
    * row count off the same footers; Spark's inference, and no count, when
    * the listing or a footer cannot give them. */
  def read(spark: SparkSession, dir: String): (DataFrame, Option[Long]) =
    listing(spark, dir).filter(_.nonEmpty).flatMap { files =>
      val conf = spark.sessionState.newHadoopConf()
      val footers = files.map(f => footer(conf, f))
      val schemas = footers.map(_.flatMap(sparkSchema))
      if (schemas.exists(s => s.isEmpty || s != schemas.head)) None
      else Some((spark.read.schema(schemas.head.get).parquet(dir),
        Some(footers.flatten.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum)))
    }.getOrElse((spark.read.parquet(dir), None))

  private def footer(conf: Configuration, f: FileStatus): Option[ParquetMetadata] =
    try Some(ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER))
    catch { case NonFatal(_) => None }

  /** The Spark row schema a footer carries, when the file was written by
    * Spark ≥ 3.0 without calendar rebasing — so the scan reads its
    * dates and timestamps as stored. */
  private def sparkSchema(m: ParquetMetadata): Option[StructType] = {
    val kv = m.getFileMetaData.getKeyValueMetaData
    val plain = Option(kv.get("org.apache.spark.version")).exists(_ >= "3.0.0") &&
      !kv.containsKey("org.apache.spark.legacyDateTime") &&
      !kv.containsKey("org.apache.spark.legacyINT96")
    Option(kv.get(RowSchemaKey)).filter(_ => plain).flatMap(j =>
      try Some(DataType.fromJson(j)) catch { case NonFatal(_) => None })
      .collect { case s: StructType => s }
  }

  /** One file's manifest row off its footer, or None when the footer
    * cannot give the scan's exact row. */
  private def fileRow(conf: Configuration, path: SparkPath, len: Long,
                      cols: Seq[String], java8: Boolean): Option[FileRow] =
    footer(conf, new FileStatus(len, false, 0, 0L, 0L, path.toPath))
      .flatMap(m => sparkSchema(m).map(m -> _)).flatMap { case (m, schema) =>
        val groups = m.getBlocks.asScala.toSeq
        val perCol = cols.map(c => schema.fields.find(_.name == c).flatMap(f =>
          columnStats(m, groups, c, f.dataType, java8).map(f.dataType -> _)))
        if (perCol.exists(_.isEmpty)) None
        else Some(FileRow(perCol.map(_.get._1),
          (Seq[Any](path.urlEncoded, groups.map(_.getRowCount).sum) ++
            perCol.flatMap(_.get._2)).toArray))
      }

  /** `c`'s (min, max, nulls) over a file's row groups as the scan's
    * aggregates give them; None when a row group's statistics are missing
    * or carry no min/max beside non-null values, or `dt` has no exact
    * footer form ([[external]]). */
  private def columnStats(m: ParquetMetadata,
                          groups: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                          c: String, dt: DataType,
                          java8: Boolean): Option[Seq[Any]] = {
    val schema = m.getFileMetaData.getSchema
    val pt: Option[PrimitiveType] =
      if (!schema.containsField(c)) None
      else Some(schema.getType(schema.getFieldIndex(c)))
        .filter(t => t.isPrimitive && t.getRepetition != Type.Repetition.REPEATED)
        .map(_.asPrimitiveType)
    pt.flatMap(p => external(dt, p, java8).map(p -> _)).flatMap { case (p, toExt) =>
      val path = ColumnPath.get(c)
      val order = p.comparator().asInstanceOf[java.util.Comparator[Any]]
      var nulls = 0L; var mn: Any = null; var mx: Any = null
      val complete = groups.forall { g =>
        g.getColumns.asScala.find(_.getPath == path).exists { chunk =>
          val st: org.apache.parquet.column.statistics.Statistics[_] =
            chunk.getStatistics
          st != null && st.isNumNullsSet && chunk.getValueCount == g.getRowCount &&
            (st.hasNonNullValue || st.getNumNulls == g.getRowCount) && {
              nulls += st.getNumNulls
              if (st.hasNonNullValue) {
                val (lo, hi) = (st.genericGetMin: Any, st.genericGetMax: Any)
                if (mn == null || order.compare(lo, mn) < 0) mn = lo
                if (mx == null || order.compare(hi, mx) > 0) mx = hi
              }
              true
            }
        }
      }
      if (!complete) None
      else Some(Seq(Option(mn).map(toExt).orNull, Option(mx).map(toExt).orNull,
        nulls))
    }
  }

  /** The footer-statistic → collected-value conversion for a Spark type
    * and the parquet type Spark writes it as, or None where the footer
    * cannot give the scan's exact value. */
  private def external(dt: DataType, p: PrimitiveType,
                       java8: Boolean): Option[Any => Any] = {
    import PrimitiveTypeName._
    def asLong(v: Any): Long = v.asInstanceOf[java.lang.Number].longValue
    (dt, p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (BooleanType, BOOLEAN, null) => Some(identity)
      case (ByteType, INT32, i: IntLogicalTypeAnnotation)
          if i.isSigned && i.getBitWidth == 8 =>
        Some(v => java.lang.Byte.valueOf(asLong(v).toByte))
      case (ShortType, INT32, i: IntLogicalTypeAnnotation)
          if i.isSigned && i.getBitWidth == 16 =>
        Some(v => java.lang.Short.valueOf(asLong(v).toShort))
      case (IntegerType, INT32, null) | (LongType, INT64, null) => Some(identity)
      case (DateType, INT32, _: DateLogicalTypeAnnotation) =>
        Some(v => if (java8) java.time.LocalDate.ofEpochDay(asLong(v))
          else DateTimeUtils.toJavaDate(asLong(v).toInt))
      case (TimestampNTZType, INT64, t: TimestampLogicalTypeAnnotation)
          if !t.isAdjustedToUTC && t.getUnit == TimeUnit.MICROS =>
        Some(v => DateTimeUtils.microsToLocalDateTime(asLong(v)))
      case (TimestampType, INT64, t: TimestampLogicalTypeAnnotation)
          if t.isAdjustedToUTC && t.getUnit == TimeUnit.MICROS =>
        Some(v => if (java8) DateTimeUtils.microsToInstant(asLong(v))
          else DateTimeUtils.toJavaTimestamp(asLong(v)))
      case (d: DecimalType, INT32 | INT64 | FIXED_LEN_BYTE_ARRAY,
            a: DecimalLogicalTypeAnnotation)
          if a.getPrecision == d.precision && a.getScale == d.scale =>
        Some {
          case b: Binary => new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes), d.scale)
          case n => java.math.BigDecimal.valueOf(asLong(n), d.scale)
        }
      case (s: StringType, BINARY, _: StringLogicalTypeAnnotation)
          if s == StringType =>
        Some(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case _ => None
    }
  }
}
