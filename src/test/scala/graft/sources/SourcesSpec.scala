package graft.sources

import graft.SparkTestBase

/** Source-layer contracts: the one-pass explicit-schema CSV read is a
  * drop-in for the inference path (SURVEY.md §7.3 production upgrade).
  */
class SourcesSpec extends SparkTestBase {

  test("csvTyped with the inferred schema yields identical rows to csvInfer") {
    val inferred = Tables.csvInfer(spark, FixtureCsv)
    val typed = Tables.csvTyped(spark, FixtureCsv, inferred.schema)
    assert(typed.schema == inferred.schema)
    assert(typed.count() == inferred.count())
    assert(typed.exceptAll(inferred).isEmpty && inferred.exceptAll(typed).isEmpty)
  }

  test("permissive CSV read quarantines malformed rows, keeps good ones") {
    val dir = tmpDir("csv_bad")
    val f = new java.io.PrintWriter(s"$dir/data.csv")
    f.println("a,b,c")
    f.println("1,2.5,x")
    f.println("oops,not_a_double,y") // malformed under the schema
    f.println("3,4.5,z")
    f.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "a INT, b DOUBLE, c STRING")
    val df = Tables.csvPermissive(spark, dir, schema).cache()
    import org.apache.spark.sql.functions.col
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2)
    assert(bad.count() == 1)
    assert(bad.head().getAs[String]("_corrupt_record").contains("oops"))
    df.unpersist()
  }

  test("JSON-lines round-trip is lossless, including microsecond timestamps") {
    val ev = Tables.events(spark, Sf0001)
    val dir = tmpDir("json_rt")
    Tables.exportJson(ev, dir)
    val back = Tables.jsonTyped(spark, dir, ev.schema)
    assert(back.schema == ev.schema)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("XML round-trip is lossless under an explicit schema") {
    val ev = Tables.events(spark, Sf0001)
    val dir = tmpDir("xml_rt")
    Tables.exportXml(ev, dir, rowTag = "event")
    val back = Tables.xmlTyped(spark, dir, ev.schema, rowTag = "event")
    assert(back.schema == ev.schema)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("ORC round-trip is lossless and prunes/pushes down like parquet") {
    val ev = Tables.events(spark, Sf0001)
    val dir = tmpDir("orc_rt")
    Tables.exportOrc(ev, dir)
    val back = Tables.orc(spark, dir)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
    // scan-level contract: filter + projection reach the ORC reader
    import org.apache.spark.sql.functions.col
    val plan = back.filter(col("user_id") === 7).select("event_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]")
      || plan.contains("EqualTo(user_id,7)"), s"no ORC pushdown:\n$plan")
  }

  test("scheme-qualified URIs resolve end-to-end (the gs:// path contract)") {
    // the reference hard-codes gs:// URIs (src/gcs/paths.py:1-4); the
    // engine takes EnginePaths strings and hands them to Hadoop's
    // FileSystem.get, so ANY registered scheme works. No GCS connector
    // exists in this sandbox — file:// exercises the same code path
    // (URI parse → scheme dispatch → qualified read/write), which is
    // the part the engine owns.
    val root = "file://" + tmpDir("scheme_rt")
    val paths = graft.etl.EnginePaths.under(root)
    assert(paths.curated.startsWith("file:///"))
    val ev = Tables.events(spark, Sf0001).limit(100)
    ev.write.mode("overwrite").parquet(paths.curated)
    val back = spark.read.parquet(paths.curated)
    assert(back.count() == 100)
    // and a raw (scheme-less) spelling of the same location reads it too
    val rawBack = spark.read.parquet(paths.curated.stripPrefix("file://"))
    assert(rawBack.count() == 100)
  }

  test("partitioned writes and a stream's checkpoints fork no process") {
    // without libhadoop, Hadoop's stock local filesystem runs `chmod`
    // for every file, .crc and directory it creates and `readlink` for
    // every FileContext rename (each checkpoint, WAL and state commit)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{col, window}
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      Tables.events(spark, Sf0001).write.mode("overwrite")
        .partitionBy("event_type").parquet(tmpDir("fork_free_write"))
      graft.streaming.EventStreams.replayEventsDirToParquet(
        spark, Sf0001, tmpDir("fork_free_stream"),
        _.withWatermark("ts", "0 seconds").groupBy(window(col("ts"), "6 hours")).count(),
        interruptAfterBatches = Some(2))
    } finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try rec.dump(jfr) finally rec.close()
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
    java.nio.file.Files.delete(jfr)
    val fromShell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    assert(fromShell.isEmpty,
      s"${fromShell.size} Hadoop Shell forks, e.g. ${fromShell.take(3).map(_.getString("command"))}")
    val local = new java.net.URI("file:///")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(local, hadoopConf)
    assert(fs.isInstanceOf[graft.util.ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(local, hadoopConf)
      .isInstanceOf[graft.util.ForkFreeLocalFs])
  }

  test("events reader normalizes nanos timestamps to TimestampType") {
    val ev = Tables.events(spark, Sf0001)
    assert(ev.schema("ts").dataType.typeName == "timestamp")
    assert(ev.count() > 0)
  }
}
