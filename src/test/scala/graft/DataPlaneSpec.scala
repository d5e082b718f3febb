package graft

import graft.operators.PipeOps
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity data plane: sources/sinks round-trips, Hadoop InputFormat
  * compatibility, the pipe (opaque worker) operator, and multimodal
  * feature-extraction plumbing. */
class DataPlaneSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val tmp = java.nio.file.Files.createTempDirectory("graft_dp").toString

  test("csv/json/orc/parquet/xml round-trip preserves rows and schema") {
    val src = tables.nation
    for (fmt <- Seq("csv", "json", "orc", "parquet", "xml")) {
      val path = s"$tmp/rt_$fmt"
      // csv keeps its header and xml frames each record in a rowTag element
      val opts = Map("header" -> "true", "inferSchema" -> "true", "rowTag" -> "row")
      src.write.mode("overwrite").format(fmt).options(opts).save(path)
      val back = spark.read.format(fmt).options(opts).load(path)
      assert(back.count() === src.count(), s"$fmt row count")
      assert(new java.io.File(s"$path/_SUCCESS").exists(), s"$fmt _SUCCESS commit marker")
    }
  }

  test("s3a route (S2/K3): S3AFileSystem loads when hadoop-aws is present — gated") {
    // the s3a path needs only the hadoop-aws + aws-sdk jars on the
    // classpath (no code change: every reader/writer here goes through the
    // Hadoop FileSystem API). This environment ships without those jars, so
    // the test CANCELS and SURVEY §8.1 records the route as unverified; on
    // a cluster with the jars it asserts the filesystem actually resolves.
    val s3aClass =
      try Some(Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"))
      catch { case _: ClassNotFoundException => None }
    assume(s3aClass.nonEmpty,
      "hadoop-aws not on the classpath — s3a unverified in this environment")
    assert(classOf[org.apache.hadoop.fs.FileSystem].isAssignableFrom(s3aClass.get))
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("s3a://bucket/"), conf)
    assert(fs.getScheme === "s3a")
  }

  test("hadoopRDD TextInputFormat reads what the gzip text sink wrote") {
    val lines = (1 to 100).map(i => s"record-$i").toDS()
    Sources.writeGzipText(lines, s"$tmp/gz")
    assert(new java.io.File(s"$tmp/gz").listFiles().exists(_.getName.endsWith(".gz")))
    val back = Sources.hadoopText(spark, s"$tmp/gz/*.gz")
    assert(back.count() === 100)
    assert(back.collect().toSet === lines.collect().toSet)
  }

  test("pipe operator: stdin→child→stdout round trip through sed") {
    val in = (1 to 50).map(i => s"x$i").toDS().repartition(4)
    val out = PipeOps.pipeLines(in, Seq("sed", "s/^x/y_/"), Map("GRAFT_ROLE" -> "worker"))
    assert(out.collect().toSet === (1 to 50).map(i => s"y_$i").toSet)
  }

  test("pipe operator: task-index header gives each child a distinct index") {
    // reference parity: the per-container index env
    // (container/HboxContainer.java:915-1137) — here the child reads its
    // index from stdin line 1 and the data from line 2 on
    val in = (1 to 40).map(i => s"x$i").toDS().repartition(4)
    val out = PipeOps.pipeLines(in,
      Seq("sh", "-c", "read hdr; echo \"$hdr\"; cat > /dev/null"),
      taskIndexHeader = true)
    val headers = out.collect().toSet
    assert(headers === (0 until 4).map(i => s"GRAFT_TASK_INDEX=$i").toSet)
  }

  test("containerized pipe: runtime wrapper + env flags + user cmd compose into one argv") {
    // reference parity: DockerLaunch wraps the user command in
    // `docker run … -e K=V … <cmd>` (core/.../common/DockerLaunch.java:1-171).
    // No container runtime ships here, so the launcher is a stand-in that
    // PROVES the composition: it echoes the argv it received (the env flags
    // and user cmd), then execs the user cmd against stdin.
    val in = (1 to 20).map(i => s"x$i").toDS().repartition(2)
    val launcher = Seq("sh", "-c",
      """echo "ARGV:$0 $1 $2"; shift 2; exec "$@"""", "launcher-arg")
    val out = PipeOps.pipeLinesInContainer(in, launcher,
      cmd = Seq("sed", "s/^x/z_/"), env = Map("GRAFT_IMAGE" -> "demo:1"))
    val got = out.collect().toSet
    // every partition's child announced the composed argv…
    assert(got.contains("ARGV:launcher-arg -e GRAFT_IMAGE=demo:1"),
      s"launcher must receive the rendered env flags before the user cmd: $got")
    // …and the wrapped user command still processed the stream
    assert(got.filter(_.startsWith("z_")) === (1 to 20).map(i => s"z_$i").toSet)
  }

  test("reflective SequenceFile Input/OutputFormat round-trip (K2/S3 parity)") {
    val lines = (1 to 64).map(i => s"seqrec-$i").toDS().repartition(3)
    val path = s"$tmp/seqfile"
    Sources.saveAsHadoopText(lines, path,
      "org.apache.hadoop.mapred.SequenceFileOutputFormat")
    assert(new java.io.File(s"$path/_SUCCESS").exists(), "_SUCCESS commit marker")
    val back = Sources.hadoopRecords(spark, path,
      "org.apache.hadoop.mapred.SequenceFileInputFormat",
      keyClass = "org.apache.hadoop.io.NullWritable",
      valueClass = "org.apache.hadoop.io.Text")
    assert(back.collect().toSet === lines.collect().toSet)
  }

  test("avro container round-trip via avro-mapred: rows, nulls, schema, _SUCCESS") {
    val df = tables.documents
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        when(col("doc_id") % 7 === 0, col("lang")).as("maybe_lang"))
      .limit(200)
    val path = s"$tmp/avro_docs"
    Sources.writeAvro(df, path)
    assert(new java.io.File(s"$path/_SUCCESS").exists(), "_SUCCESS commit marker")
    assert(new java.io.File(path).listFiles().exists(_.getName.endsWith(".avro")),
      "container files carry the .avro extension")
    val back = Sources.readAvro(spark, path, df.schema)
    assert(back.schema === df.schema)
    assert(back.collect().map(_.toSeq).toSet === df.collect().map(_.toSeq).toSet,
      "row set survives the write→read cycle incl. nulls")
    // loud reject on non-flat schemas instead of silent mangling
    val nested = tables.documents.select(struct(col("doc_id")).as("s"))
    val e = intercept[IllegalArgumentException](Sources.writeAvro(nested, s"$tmp/avro_bad"))
    assert(e.getMessage.contains("flat primitive"))
  }

  test("full reference-style text job: read → pipe → gzip sink with _SUCCESS") {
    val inPath = s"$tmp/job_in"
    (1 to 40).map(_.toString).toDS().write.text(inPath)
    val n = PipeOps.runTextJob(spark, inPath, Seq("cat"), s"$tmp/job_out", epochs = 2)
    assert(n === 40)
    assert(new java.io.File(s"$tmp/job_out/_SUCCESS").exists())
  }

  test("multimodal: payload bytes and checksum are deterministic") {
    val media = multimodal.Multimodal.asMedia(tables.documents)
    val f1 = multimodal.Multimodal.extractFeatures(spark, media).collect().sortBy(_.doc_id)
    val f2 = multimodal.Multimodal.extractFeatures(spark, media).collect().sortBy(_.doc_id)
    assert(f1.map(_.checksum).sameElements(f2.map(_.checksum)))
    // ascii corpus: byte length == char length
    val chars = tables.documents.select(col("doc_id"), length(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    f1.foreach(f => assert(f.n_bytes === chars(f.doc_id)))
  }

  test("P7 stream-split deal: contiguous and round-robin, no shuffle") {
    val rdd = spark.sparkContext.parallelize(0 until 100, 10) // partition i = [10i, 10i+10)
    val contig = operators.PlacementOps.dealContiguous(rdd, 3)
    val rr = operators.PlacementOps.dealRoundRobin(rdd, 3)
    for (dealt <- Seq(contig, rr)) {
      assert(dealt.getNumPartitions === 3)
      // narrow dependency — the deal moves no rows
      assert(dealt.dependencies.forall(!_.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]))
      assert(dealt.collect().sorted.sameElements(0 until 100))
    }
    val contigGroups = contig.mapPartitionsWithIndex((i, it) => Iterator(i -> it.toSet)).collect().toMap
    // reference nsplit/msplit: 10 splits over 3 workers → 4,3,3 contiguous
    assert(contigGroups(0) === (0 until 40).toSet)
    assert(contigGroups(1) === (40 until 70).toSet)
    assert(contigGroups(2) === (70 until 100).toSet)
    val rrGroups = rr.mapPartitionsWithIndex((i, it) => Iterator(i -> it.toSet)).collect().toMap
    // split i → worker i % 3
    assert(rrGroups(0) === Seq(0, 3, 6, 9).flatMap(p => p * 10 until (p + 1) * 10).toSet)
    assert(rrGroups(1) === Seq(1, 4, 7).flatMap(p => p * 10 until (p + 1) * 10).toSet)
    assert(rrGroups(2) === Seq(2, 5, 8).flatMap(p => p * 10 until (p + 1) * 10).toSet)
  }

  test("barrier rendezvous hands every task the full cluster address list") {
    val got = ml.MlOps.rendezvous(spark, 4)
    assert(got.length === 4)
    assert(got.map(_._1).sorted.sameElements(0 until 4))
    assert(got.forall(_._3 == 4))
  }

  test("tfidfPipeline: one row per doc, and a token in every doc weighs zero") {
    import spark.implicits._
    val docs = Seq((1L, "common alpha"), (2L, "common beta beta"),
      (3L, "common gamma")).toDF("doc_id", "text")
    val got = ml.MlOps.tfidfPipeline(docs).collect()
    assert(got.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L, 3L))
    val tf = new org.apache.spark.ml.feature.HashingTF().setNumFeatures(1 << 12)
    def weight(doc: Long, token: String): Double =
      got.find(_.getAs[Long]("doc_id") == doc).get
        .getAs[org.apache.spark.ml.linalg.Vector]("tfidf")(tf.indexOf(token))
    // IDF = log((docs + 1) / (docs with the token + 1)): zero when every
    // doc holds the token, positive for a token only one doc holds
    assert((1L to 3L).forall(weight(_, "common") == 0.0))
    assert(weight(1L, "alpha") > 0.0 && weight(2L, "alpha") == 0.0)
  }
}
