package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Pins the schema cache behind [[CachedParquet.read]]: a repeated
  * load starts no Spark job, and the cache never serves a schema its
  * key (file listing + inference confs) no longer matches.
  */
class TablesSchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft_schema_cache").toFile
    try body(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def copyTable(from: String, name: String, toDir: String): Unit =
    Files.copy(new File(Tables.path(from, name)).toPath,
      new File(Tables.path(toDir, name)).toPath,
      StandardCopyOption.REPLACE_EXISTING)

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in posting order, so a marker job run before
    * and after `body` fences the count: once the closing marker's start
    * is seen, every job `body` started has been seen too.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val markers = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("schema-cache-fence")) match {
          case Some(m) => markers.put(m)
          case None => jobs.incrementAndGet()
        }
    }
    def fence(marker: String): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markers.poll(60, TimeUnit.SECONDS) == marker, "listener fence timed out")
    }
    sc.addSparkListener(listener)
    try {
      fence("schema-cache-fence-open")
      jobs.set(0)
      val r = body
      fence("schema-cache-fence-close")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("second load of a table starts no Spark job") {
    withTempDir { dir =>
      copyTable(sf, "nation", dir)
      val (first, j1) = jobsDuring(Tables.load(spark, dir, "nation"))
      val (second, j2) = jobsDuring(Tables.load(spark, dir, "nation"))
      assert(j1 == 1, "first load infers the schema with one footer job")
      assert(j2 == 0, "second load must pass the cached schema")
      assert(second.schema == first.schema)
      assert(second.count() == 25)
    }
  }

  test("a rewritten dataset re-infers: directory overwrite and single-file replace") {
    withTempDir { dir =>
      spark.range(5).toDF("a").write.parquet(Tables.path(dir, "t"))
      assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
      spark.range(5).selectExpr("id AS b", "'x' AS c")
        .write.mode("overwrite").parquet(Tables.path(dir, "t"))
      val t = Tables.load(spark, dir, "t")
      assert(t.columns.toSeq == Seq("b", "c"))
      assert(t.filter("c = 'x'").count() == 5)

      copyTable(sf, "nation", dir)
      val nationCols = Tables.load(spark, dir, "nation").columns.toSeq
      Files.copy(new File(Tables.path(sf, "region")).toPath,
        new File(Tables.path(dir, "nation")).toPath,
        StandardCopyOption.REPLACE_EXISTING)
      val replaced = Tables.load(spark, dir, "nation")
      assert(replaced.columns.toSeq == spark.read.parquet(Tables.path(sf, "region")).columns.toSeq)
      assert(replaced.columns.toSeq != nationCols)
      assert(replaced.count() == 5)
    }
  }

  test("flipping nanosAsLong re-infers instead of serving the cached schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(conf)
    withTempDir { dir =>
      val file = Tables.path(dir, "nanos")
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int32 id; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
        .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
      val groups = new SimpleGroupFactory(schema)
      try w.write(groups.newGroup().append("ts", 1700000000123456789L).append("id", 1))
      finally w.close()
      try {
        spark.conf.set(conf, "true")
        val asLong = CachedParquet.read(spark, file)
        assert(asLong.schema("ts").dataType == LongType)
        assert(asLong.collect().head.getLong(0) == 1700000000123456789L)
        spark.conf.set(conf, "false")
        val (_, jobs) = jobsDuring(intercept[Exception](CachedParquet.read(spark, file)))
        assert(jobs == 1, "the flipped conf must re-run inference, which rejects NANOS")
        spark.conf.set(conf, "true")
        assert(CachedParquet.read(spark, file).schema("ts").dataType == LongType)
      } finally prev match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("every sf0.001 table reads the same through the cache as uncached") {
    Tables.names.foreach { n =>
      val p = Tables.path(sf, n)
      CachedParquet.read(spark, p)
      val (cached, jobs) = jobsDuring(CachedParquet.read(spark, p))
      assert(jobs == 0, s"$n: repeated read must be a cache hit")
      val plain = spark.read.parquet(p)
      assert(cached.schema == plain.schema, n)
      assert(cached.collect().toSeq == plain.collect().toSeq, n)
    }
  }

  test("concurrent loads from several threads agree on the schema") {
    withTempDir { dir =>
      copyTable(sf, "lineitem", dir)
      val expected = spark.read.parquet(Tables.path(dir, "lineitem")).schema
      val pool = Executors.newFixedThreadPool(6)
      try {
        val loads = (1 to 24).map(_ => pool.submit(() =>
          Tables.load(spark, dir, "lineitem").schema))
        loads.foreach(f => assert(f.get(120, TimeUnit.SECONDS) == expected))
      } finally pool.shutdown()
    }
  }
}
