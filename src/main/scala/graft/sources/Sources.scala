package graft.sources

import org.apache.hadoop.io.{LongWritable, NullWritable, Text, Writable}
import org.apache.hadoop.mapred.{InputFormat, JobConf, OutputFormat, TextInputFormat}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.3 "Scans / sources" and "Sinks").
  *
  * The reference's scan operators are file enumeration + whole-file or
  * InputFormat-split distribution (S1–S5, `AM/ApplicationMaster.java:833-903`);
  * its sinks are upload/rename commit and a gzip TextOutputFormat stream
  * (K1/K2, `container/HboxContainer.java:524-613`, `1211-1257`). Spark
  * DataSource covers the built-in formats (`spark.read.*`, `df.write.*`,
  * each committing `_SUCCESS`); this object keeps what it does not: the
  * Hadoop InputFormat/OutputFormat compatibility path, the gzip text sink,
  * Avro container files and whole-file media rows.
  *
  * Path schemes: every reader/writer here goes through the Hadoop
  * FileSystem API, so any scheme with a filesystem implementation on the
  * classpath works unchanged (hdfs://, file://). S3 (parity with the
  * reference's S2/K3, `core/.../storage/AmazonS3.java`) means `s3a://`
  * paths + the `hadoop-aws`/`aws-sdk-bundle` jars; those jars are NOT in
  * this environment, so the s3a route is documented-but-untested here —
  * no code change is needed, only the jars and credentials conf.
  */
object Sources {

  /** Media-file ingestion: `binaryFile` scan mapped to the engine's
    * multimodal schema (doc_id = xxhash64(path), payload, meta struct) so
    * the output feeds `Multimodal.extractFeatures/frameSample`
    * directly. Whole files as single rows — the reference's DOWNLOAD
    * strategy for opaque inputs (S4); format comes from content sniffing
    * downstream, not the filename. */
  def binaryFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.format("binaryFile").load(pathGlob)
      .select(
        xxhash64(col("path")).as("doc_id"),
        col("content").as("payload"),
        struct(
          lit("application/octet-stream").as("format"),
          col("path").as("origin"),
          // long, not int: a whole-file media payload can exceed 2 GiB and
          // must not wrap negative (Multimodal.asMedia matches this type)
          col("length").as("content_length")).as("meta"))
  }

  /** Hadoop `InputFormat` compatibility (parity with the reference's STREAM
    * scan S3/S5): identical split computation, records as lines. */
  def hadoopText(spark: SparkSession, path: String): Dataset[String] =
    hadoopRecords(spark, path, classOf[TextInputFormat].getName)

  /** Arbitrary `mapred.InputFormat` scan, reflectively instantiated — full
    * parity with the reference's `hbox.inputformat.class` conf
    * (`HboxConfiguration2.java:8-9`, reflective split computation at
    * `AM/ApplicationMaster.java:882-903`). Records are rendered
    * `value.toString`, exactly like the reference's stdin feed
    * (`container/HboxContainer.java:1172-1173`). Split computation and
    * record reading run distributed in the scan tasks; nothing is
    * format-specific here. */
  def hadoopRecords(spark: SparkSession, path: String,
                    inputFormatClass: String,
                    keyClass: String = classOf[LongWritable].getName,
                    valueClass: String = classOf[Text].getName): Dataset[String] = {
    import spark.implicits._
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.mapred.FileInputFormat.setInputPaths(conf, path)
    spark.createDataset(
      spark.sparkContext
        .hadoopRDD(conf,
          loadClass(inputFormatClass)
            .asInstanceOf[Class[InputFormat[Writable, Writable]]],
          loadClass(keyClass).asInstanceOf[Class[Writable]],
          loadClass(valueClass).asInstanceOf[Class[Writable]])
        .map(_._2.toString))
  }

  /** Resolve user-supplied format classes through the thread context
    * classloader (Spark's own pattern): classes shipped via `--jars` live in
    * Spark's mutable URL loader, not necessarily in this library's defining
    * loader. */
  private def loadClass(name: String): Class[_] =
    Class.forName(name, true,
      Option(Thread.currentThread().getContextClassLoader)
        .getOrElse(getClass.getClassLoader))

  // ---- sinks (all emit _SUCCESS via FileOutputCommitter — parity with the
  // reference's _temporary→rename→_SUCCESS protocol, K1) -------------------

  /** Gzip text sink — the reference's default output format
    * (gzip TextOutputFormat, `HboxConfiguration2.java:11-12`). */
  def writeGzipText(ds: Dataset[String], path: String): Unit =
    ds.write.mode("overwrite").option("compression", "gzip").text(path)

  /** Arbitrary `mapred.OutputFormat` sink, reflectively instantiated — full
    * parity with the reference's `hbox.outputformat.class` writer
    * (`HboxConfiguration2.java:11-12`, reflective record writer at
    * `container/HboxContainer.java:1222-1227`). Each line is written as a
    * (NullWritable, Text) record, matching the reference's `write(null,
    * line)` calls; commit goes through the same FileOutputCommitter
    * `_temporary`→rename→`_SUCCESS` protocol as every other sink (K1). */
  def saveAsHadoopText(ds: Dataset[String], path: String,
                       outputFormatClass: String): Unit =
    ds.rdd.map(s => (NullWritable.get(), new Text(s)))
      .saveAsHadoopFile(path, classOf[NullWritable], classOf[Text],
        loadClass(outputFormatClass)
          .asInstanceOf[Class[OutputFormat[NullWritable, Text]]])

  // ---- Avro container files ----------------------------------------------

  /** The Avro schema for a flat Spark schema of primitive columns — the
    * subset `avro-mapred` (the jar Spark itself ships; no spark-avro
    * datasource exists in this environment) can carry losslessly through
    * the GenericRecord JSON rendering. Nested/binary/decimal columns are
    * rejected loudly rather than silently mangled. */
  private def avroSchemaJson(schema: StructType, name: String): String = {
    import org.apache.spark.sql.types._
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType    => "\"long\""
        case IntegerType => "\"int\""
        case DoubleType  => "\"double\""
        case FloatType   => "\"float\""
        case StringType  => "\"string\""
        case BooleanType => "\"boolean\""
        case other => throw new IllegalArgumentException(
          s"avro sink supports flat primitive columns; ${f.name} is $other " +
            "(use the parquet/orc sinks for nested or logical types)")
      }
      val tpe = if (f.nullable) s"""["null", $t]""" else t
      s"""{"name": "${f.name}", "type": $tpe}"""
    }
    s"""{"type": "record", "name": "$name", "fields": [${fields.mkString(", ")}]}"""
  }

  /** Avro container-file sink over `avro-mapred`'s `AvroOutputFormat` —
    * the K2 "arbitrary OutputFormat" route instantiated for the one
    * row-major format large ingest pipelines actually exchange. Schema is
    * derived from the DataFrame (flat primitives; loud reject otherwise),
    * records build straight from the rows, and the write commits through
    * the same FileOutputCommitter rename+`_SUCCESS` protocol as every
    * other sink (K1). Parity: the reference accepts any OutputFormat via
    * `hbox.outputformat.class` (`HboxConfiguration2.java:11-12`) — Avro
    * is exactly such a class there too. */
  def writeAvro(df: DataFrame, path: String): Unit = {
    import org.apache.avro.mapred.{AvroJob, AvroOutputFormat, AvroWrapper}
    val schemaJson = avroSchemaJson(df.schema, "row")
    val names = df.schema.fieldNames
    val records = df.rdd.mapPartitions { it =>
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      it.map { row =>
        val rec = new org.apache.avro.generic.GenericData.Record(schema)
        var i = 0
        while (i < names.length) {
          rec.put(names(i), if (row.isNullAt(i)) null else row.get(i))
          i += 1
        }
        (new AvroWrapper[org.apache.avro.generic.GenericRecord](rec),
          NullWritable.get())
      }
    }
    val conf = new JobConf(df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputSchema(conf,
      new org.apache.avro.Schema.Parser().parse(schemaJson))
    records.saveAsHadoopFile(path,
      classOf[AvroWrapper[org.apache.avro.generic.GenericRecord]],
      classOf[NullWritable],
      classOf[AvroOutputFormat[org.apache.avro.generic.GenericRecord]], conf)
  }

  /** Avro container-file source — `AvroInputFormat` splits (S3's
    * InputFormat contract, same machinery as [[hadoopRecords]]) with each
    * `GenericRecord` rendered to its canonical JSON and handed to Spark's
    * JSON reader under the caller's schema. Splittable like any
    * InputFormat scan, so a multi-TB Avro drop parallelizes by block;
    * the JSON hop costs one string per record — the honest tax for
    * supporting the format without a dedicated datasource jar, and only
    * on this ingest edge (everything downstream is columnar). */
  def readAvro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.avro.mapred.{AvroInputFormat, AvroWrapper}
    import spark.implicits._
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.mapred.FileInputFormat.setInputPaths(conf, path)
    val json = spark.createDataset(
      spark.sparkContext.hadoopRDD(conf,
        classOf[AvroInputFormat[org.apache.avro.generic.GenericRecord]],
        classOf[AvroWrapper[org.apache.avro.generic.GenericRecord]],
        classOf[NullWritable])
        .map(_._1.datum().toString))
    spark.read.schema(schema).json(json)
  }
}
