package graft

import graft.api._
import graft.sources.Parquet
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink round-trips (reference: §2.1/§2.2 — file/csv/parquet sources,
  * write_csv/write_parquet sinks, sequential vs single-file variants). */
class SourceSinkSpec extends SparkSpec {
  def tmp(): String = Files.createTempDirectory("graft").toString

  /** A parquet write and a 3-batch stateful streaming query with a
    * checkpoint, both under `dir`: every kind of local file the library
    * writes (part files, `.crc` sidecars, offset and commit logs, state
    * store deltas). */
  private def writeParquetAndCheckpoint(dir: String): Unit = {
    val s = imp; import s._
    ctx.streamRange(100).map(x => (x % 7, x)).writeParquet(dir + "/p")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val name = "graft_cp_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = in.toDS().groupByKey(_ % 3).count().writeStream
      .outputMode("complete").format("memory").queryName(name)
      .option("checkpointLocation", dir + "/cp").start()
    try (0 until 3).foreach { b =>
      in.addData((b * 10L) until (b * 10L + 10))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(name).as[(Long, Long)].collect().toMap == Map(0L -> 10L, 1L -> 10L, 2L -> 10L))
    spark.catalog.dropTempView(name)
  }

  /** Commands of the processes this JVM starts while `body` runs, from a
    * JFR `jdk.ProcessStart` recording. */
  private def processStarts(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("local file writes start no chmod, readlink, ls or stat process") {
    val shell = processStarts(writeParquetAndCheckpoint(tmp())).filter(c =>
      Set("chmod", "readlink", "ls", "stat")(c.trim.split("\\s+").head.split('/').last))
    val forks = shell.size
    assert(forks == 0, s"Hadoop shell forks: ${shell.take(5).mkString("; ")}")
  }

  test("local file modes are Hadoop's: part files, directories, checksums, checkpoint files") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(tmp())
    writeParquetAndCheckpoint(root.toString)
    val walk = Files.walk(root)
    val modes = try walk.iterator().asScala.filter(_ != root).map { f =>
      val rel = root.relativize(f).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
        .replaceAll("part-\\d+", "part-N")
      rel -> (Files.isDirectory(f),
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
    }.toMap finally walk.close()
    // recorded from Hadoop's own local file system (shell chmod): every
    // directory 755 and every file 644, under a 022 umask
    val recorded = Map(
      "p" -> "rwxr-xr-x",
      "p/_SUCCESS" -> "rw-r--r--",
      "p/part-N-<uuid>-c000.snappy.parquet" -> "rw-r--r--",
      "p/.part-N-<uuid>-c000.snappy.parquet.crc" -> "rw-r--r--",
      "cp" -> "rwxr-xr-x",
      "cp/metadata" -> "rw-r--r--",
      "cp/offsets" -> "rwxr-xr-x",
      "cp/offsets/2" -> "rw-r--r--",
      "cp/commits/.2.crc" -> "rw-r--r--",
      "cp/state/0/0" -> "rwxr-xr-x",
      "cp/state/0/0/3.delta" -> "rw-r--r--",
      "cp/state/0/0/.3.delta.crc" -> "rw-r--r--",
      "cp/state/0/0/_metadata/schema" -> "rw-r--r--",
      "cp/state/0/_metadata/metadata" -> "rw-r--r--")
    recorded.foreach { case (rel, mode) => assert(modes.get(rel).map(_._2).contains(mode), rel) }
    modes.foreach { case (rel, (isDir, mode)) =>
      assert(mode == (if (isDir) "rwxr-xr-x" else "rw-r--r--"), rel)
    }
  }

  test("setPermission keeps the sticky bit; getFileLinkStatus keeps Hadoop's statuses") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val local = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[graft.sources.NioLocalFileSystem])
    assert(local.getRaw.isInstanceOf[graft.sources.NioRawLocalFileSystem])
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(new java.net.URI("file:///"), conf)
      .isInstanceOf[graft.sources.NioLocalFs])
    val nio = local.getRaw
    val plain = new org.apache.hadoop.fs.RawLocalFileSystem()
    plain.initialize(new java.net.URI("file:///"), conf)
    val dir = java.nio.file.Paths.get(tmp())

    val sticky = dir.resolve("sticky")
    Files.createDirectory(sticky)
    nio.setPermission(new Path(sticky.toString),
      new org.apache.hadoop.fs.permission.FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("1777", 8))

    val file = Files.writeString(dir.resolve("file"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    def fields(st: org.apache.hadoop.fs.FileStatus) = (st.getPath, st.getLen, st.isFile,
      st.isDirectory, st.isSymlink, st.getModificationTime, st.getPermission, st.getOwner)
    val viaLink = nio.getFileLinkStatus(new Path(link.toString))
    assert(viaLink.isSymlink)
    assert(viaLink.getSymlink == new Path("file:" + file))
    assert(fields(viaLink) == fields(plain.getFileLinkStatus(new Path(link.toString))))
    val regular = new Path(file.toString)
    assert(fields(nio.getFileLinkStatus(regular)) == fields(nio.getFileStatus(regular)))
    assert(fields(nio.getFileLinkStatus(regular)) == fields(plain.getFileLinkStatus(regular)))
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("parquet write/read round-trip (write_parquet_seq)") {
    val s = imp; import s._
    val dir = tmp() + "/p"
    ctx.streamRange(100).map(x => (x, s"v$x")).writeParquet(dir)
    val back = ctx.streamParquetAs[(Long, String)](dir).collectVec()
    assert(back.sortBy(_._1).map(_._1) == (0L until 100L))
  }

  test("single-file parquet (write_parquet_one → one part file)") {
    val s = imp; import s._
    val dir = tmp() + "/p1"
    ctx.streamRange(10).writeParquetOne(dir)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 1)
  }

  test("partitioned parquet sink: hive layout, pruned scan, round-trip") {
    val s = imp; import s._
    val dir = tmp() + "/pp"
    val typed = ctx.streamRange(100).map(x => (x, (x % 4).toString, s"v$x"))
      .ds.toDF("id", "day", "v").as[(Long, String, String)]
    ctx.fromDataset(typed).writeParquetPartitioned(dir, "day")
    // hive directory layout: one dir per partition value
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("day=")).sorted
    assert(dirs.toSeq == Seq("day=0", "day=1", "day=2", "day=3"))
    // round-trip: all rows, partition column restored
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    // partition pruning: the filter becomes a PartitionFilter, not a scan
    val pruned = back.filter(org.apache.spark.sql.functions.col("day") === "2")
    val formatted = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PartitionFilters: [isnotnull(day"),
      s"day filter must prune partitions:\n$formatted")
    assert(pruned.count() == 25)
  }

  /** The parquet fixture tables (FIXTURES.md, family B). */
  private val sf0001 = "/root/testdata/sf0.001"

  /** The schema of the frame `read` builds, or the error condition it
    * raises, and the Spark jobs that building it ran. */
  private def built(read: => org.apache.spark.sql.DataFrame): (Either[String, StructType], Long) = {
    val (out, layers) = Layers.measure(spark) {
      try Right(read.schema)
      catch { case e: org.apache.spark.SparkThrowable => Left(e.getCondition) }
    }
    (out, layers.jobs)
  }

  /** `Parquet.read` against Spark's own inference: the same schema or
    * error, and no Spark job where the footer rule applies. */
  private def matchesSpark(path: String, jobs: Long = 0L): StructType = {
    val (ours, ourJobs) = built(Parquet.read(spark, path))
    val (theirs, _) = built(spark.read.parquet(path))
    assert(ours == theirs, path)
    assert(ourJobs == jobs, path)
    ours.toOption.orNull
  }

  test("Parquet.read learns Spark's schema from one footer and runs no Spark job") {
    val s = imp; import s._
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
      .foreach(t => matchesSpark(s"$sf0001/$t.parquet"))
    // a Spark-written directory: _SUCCESS, .crc sidecars, Spark row metadata
    val dir = tmp() + "/typed"
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .select(col("id"), col("s").as("s", meta),
        col("id").cast("decimal(18,2)").as("money"), timestamp_micros(col("id")).as("ts"),
        struct(col("id"), array(col("s")).as("arr")).as("nested"),
        map(col("s"), col("id")).as("m"))
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val schema = matchesSpark(dir)
    assert(schema("s").metadata.getString("comment") == "kept")
    assert(Parquet.read(spark, dir).orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
    // Spark's own inference is the one-task job this reader saves
    assert(built(spark.read.parquet(dir))._2 == 1L)
  }

  test("Parquet.read applies the session's current conf at every call") {
    // TIMESTAMP(NANOS): an epoch-nano BIGINT under nanosAsLong, Spark's
    // error without it; Spark cannot write this type, parquet-mr can
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val nanos = tmp() + "/events.parquet"
    val nanosType = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(nanos), spark.sparkContext.hadoopConfiguration))
      .withType(nanosType).build()
    try w.write(new SimpleGroupFactory(nanosType).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000000L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(withConf(key -> "true")(matchesSpark(nanos))("ts").dataType == LongType)
    withConf(key -> "false") {
      matchesSpark(nanos)
      assert(built(Parquet.read(spark, nanos))._1 == Left("PARQUET_TYPE_ILLEGAL"))
    }
    assert(withConf(key -> "true")(matchesSpark(nanos))("ts").dataType == LongType)
    // the fixture's timestamp[us] column follows inferTimestampNTZ
    val events = s"$sf0001/events.parquet"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert(withConf(ntz -> "true")(matchesSpark(events))("ts").dataType == TimestampNTZType)
    assert(withConf(ntz -> "false")(matchesSpark(events))("ts").dataType == TimestampType)
  }

  test("Parquet.read hands globs, mergeSchema and empty paths to Spark; recurses into partitions") {
    val s = imp; import s._
    val base = tmp()
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/inc=0")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$base/inc=1")
    matchesSpark(s"$base/inc=*", jobs = 1L)
    // two files with different columns in one directory: off, the first
    // file in path order; on, Spark merges them
    val mixed = s"$base/mixed"
    Seq((1L, "a")).toDF("id", "s").write.parquet(mixed)
    Seq((2L, 2.5)).toDF("id", "d").write.mode("append").parquet(mixed)
    assert(matchesSpark(mixed).fieldNames.length == 2)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(matchesSpark(mixed, jobs = 1L).fieldNames.toSet == Set("id", "s", "d"))
    }
    // a partition directory: the first data file's footer, partition
    // columns appended by Spark, still no job
    val parted = s"$base/parted"
    Seq((1L, 0, "x"), (2L, 1, "y")).toDF("id", "k", "s").write.partitionBy("k").parquet(parted)
    assert(matchesSpark(parted).fieldNames.toSeq == Seq("id", "s", "k"))
    // nothing to read: Spark's own error
    val empty = Files.createTempDirectory("graft-empty").toString
    assert(built(Parquet.read(spark, empty))._1 == Left("UNABLE_TO_INFER_SCHEMA"))
    assert(built(Parquet.read(spark, s"$base/missing"))._1 == Left("PATH_NOT_FOUND"))
  }

  test("csv write/read round-trip with header and typed schema") {
    val s = imp; import s._
    val dir = tmp() + "/c"
    ctx.streamIter(Seq((1L, "a"), (2L, "b"))).writeCsv(dir)
    val back = ctx.streamCsv(dir).selectExpr("CAST(_1 AS BIGINT)", "_2")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, "a"), (2L, "b")))
  }

  test("jsonl write/read round-trip, typed and untyped") {
    val s = imp; import s._
    val dir = tmp() + "/j"
    ctx.streamIter(Seq((1L, "alpha"), (2L, "beta {\"nested\":1}")))
      .map { case (id, t) => (id, t) }.writeJsonl(dir)
    val back = ctx.streamJsonl(dir).selectExpr("CAST(_1 AS BIGINT)", "_2")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, "alpha"), (2L, "beta {\"nested\":1}")))
    // the on-disk form is one JSON object per line
    val lines = Files.list(java.nio.file.Path.of(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".json"))
      .flatMap(f => Files.readAllLines(java.nio.file.Path.of(f)).toArray.map(_.toString))
    assert(lines.length == 2 && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("orc write/read round-trip, typed and untyped") {
    val s = imp; import s._
    val dir = tmp() + "/o"
    ctx.streamIter(Seq((1L, "alpha", 1.5), (2L, "beta", -2.25)))
      .writeOrc(dir)
    val back = ctx.streamOrcAs[(Long, String, Double)](dir)
      .collectVec().sortBy(_._1)
    assert(back == Seq((1L, "alpha", 1.5), (2L, "beta", -2.25)))
    // untyped path sees the same schema; the files on disk are ORC
    assert(ctx.streamOrc(dir).columns.toSeq == Seq("_1", "_2", "_3"))
    val orcFiles = Files.list(java.nio.file.Path.of(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".orc"))
    assert(orcFiles.nonEmpty)
  }

  test("text file source (stream_file) splits on lines") {
    val s = imp; import s._
    val f = tmp() + "/t.txt"
    Files.writeString(java.nio.file.Path.of(f), "one\ntwo\nthree")
    assert(ctx.streamFile(f).collectVec().sorted == Seq("one", "three", "two"))
  }

  test("parallel iterator source: replica-indexed generator covers all replicas") {
    val s = imp; import s._
    val r = ctx.streamParIterGen(4)((id, n) => Iterator.single((id, n)))
      .collectVec().sorted
    assert(r == Seq((0, 4), (1, 4), (2, 4), (3, 4)))
  }

  test("collectIterator streams results; forEach runs side effects") {
    val s = imp; import s._
    val it = ctx.streamRange(5).collectIterator()
    assert(it.toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("avro round-trip: write + read, schema and values preserved") {
    val s = imp; import s._
    val dir = tmp() + "/a"
    // spark-avro connector absent here → exercises the avro-core fallback
    // (graft.sources.AvroIO); with the connector present the same API uses it
    val data = Seq(
      (1L, "alpha", 1.5, true),
      (2L, "beta", -0.25, false),
      (3L, "gamma", 0.0, true))
    new graft.api.Stream(data.toDS()).writeAvro(dir)
    val back = ctx.streamAvro(dir)
    assert(back.schema.fieldNames.toSeq == Seq("_1", "_2", "_3", "_4"))
    val rows = back.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSeq.sortBy(_._1)
    assert(rows == data)
    // nullable column round-trips nulls
    val dir2 = tmp() + "/b"
    val df = Seq((1L, Some("x")), (2L, None)).toDF("id", "v")
    graft.sources.AvroIO.write(df, dir2)
    val back2 = graft.sources.AvroIO.read(spark, dir2).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq.sortBy(_._1)
    assert(back2 == Seq((1L, Some("x")), (2L, None)))
  }
}
