package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** ops/Landing is the one cron tick: a streaming writer built anywhere
  * else under src/main fails the scan. Its append contract is pinned
  * end to end by StreamingIngestSpec and StreamingCurationSpec; here, a
  * tick of the same shape pins where its files are listed and how its
  * store is found and read. */
class LandingSpec extends SparkSpec {
  import spark.implicits._

  private val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val docSchema = StructType(Seq(
    StructField("k", LongType), StructField("d", StringType)))
  private val storeSchema = docSchema.add("day", DateType)

  /** Lands one single-document file per key in `keys`, a day apart. */
  private def land(dir: Path, keys: Range, name: String = "doc"): Unit =
    keys.foreach { k =>
      Files.writeString(dir.resolve(s"${name}_$k.json"),
        s"""{"k": $k, "d": "${LocalDate.of(2024, 1, 1).plusDays(k)}"}""")
    }

  /** One tick of the shape both products run: drain the new files, append
    * their new keys to a day-partitioned store, read the store back.
    * Returns the store's rows. */
  private def tick(landing: Path, ckpt: String, store: String): Long = {
    Landing.drain(spark.readStream.schema(docSchema).json(landing.toString),
        ckpt) { (batch, _) =>
      Stages.release(Seq(Landing.appendNew(
        batch.withColumn("day", to_date(col("d"))), store, Seq("k"), "day")))
    }
    Landing.readIfExists(spark, store, Some(storeSchema)).fold(0L)(_.count())
  }

  /** Descriptions of the Spark listing jobs that `body` runs. */
  private def listingJobs(body: => Unit): Seq[String] =
    jobsStarted(body).flatMap(description).filter(_.startsWith("Listing leaf files"))

  test("no streaming writer under src/main outside Landing") {
    val banned = """Trigger\.AvailableNow|\.writeStream""".r
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Landing.scala").toSeq
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined =>
          s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"use Landing.drain instead: $hits")
  }

  test("a tick over a local store lists its files without a Spark job") {
    // two ticks of 40 landed files each; the second reads a store of 40
    // day partitions. Spark lists more than 32 paths with a job.
    def twoTicks(onDriver: Boolean): Seq[String] = {
      val tmp = Files.createTempDirectory("graft_listing")
      val landing = Files.createDirectory(tmp.resolve("landing"))
      val (ckpt, store) = (s"$tmp/ckpt", s"$tmp/store")
      def run(): Long =
        if (onDriver) Landing.listedOnDriver(spark, landing.toString, store)(
          tick(landing, ckpt, store))
        else tick(landing, ckpt, store)
      listingJobs {
        land(landing, 0 until 40)
        assert(run() == 40L)
        land(landing, 40 until 80)
        assert(run() == 80L)
      }
    }
    // the control: under Spark's default the same ticks list both the
    // landed files and the store's partitions with jobs
    val control = twoTicks(onDriver = false)
    assert(control.exists(_.contains("/landing/")), control)
    assert(control.exists(_.contains("/store/day=")), control)
    val jobs = twoTicks(onDriver = true)
    assert(jobs.isEmpty, jobs)
  }

  test("listedOnDriver restores the listing threshold, also when the tick throws") {
    val local = Files.createTempDirectory("graft_listing").toString
    def inTick(): String = Landing.listedOnDriver(spark, local)(spark.conf.get(threshold))
    def failedTick(): Unit = intercept[IllegalStateException](
      Landing.listedOnDriver(spark, local)(throw new IllegalStateException("tick")))
    def setValue: Option[String] = spark.conf.getAll.get(threshold)

    assert(setValue.isEmpty)
    assert(inTick() == Int.MaxValue.toString)
    assert(setValue.isEmpty)
    failedTick()
    assert(setValue.isEmpty)

    spark.conf.set(threshold, 7L)
    try {
      assert(inTick() == Int.MaxValue.toString)
      assert(setValue.contains("7"))
      failedTick()
      assert(setValue.contains("7"))
      // one remote directory keeps Spark's setting for the whole tick
      assert(Landing.listedOnDriver(spark, local, "hdfs://nn/x")(
        spark.conf.get(threshold)) == "7")
    } finally spark.conf.unset(threshold)
  }

  test("only a tick whose directories are all local lists on the driver") {
    val conf = spark.sessionState.newHadoopConf()
    assert(Landing.allLocal(conf, Seq("/tmp/x", "rel/x", "file:/tmp/x", "file:///tmp/x")))
    assert(!Landing.allLocal(conf, Seq("s3a://b/x")))
    assert(!Landing.allLocal(conf, Seq("hdfs://nn/x")))
    assert(!Landing.allLocal(conf, Seq("/tmp/x", "s3a://b/x")))
    // a path without a scheme is on the default file system
    val remoteDefault = new Configuration(false)
    remoteDefault.set("fs.defaultFS", "hdfs://nn")
    assert(!Landing.allLocal(remoteDefault, Seq("/tmp/x")))
    assert(Landing.allLocal(remoteDefault, Seq("file:/tmp/x")))
  }

  test("a store given as a file: URI is found: a re-delivered key appends nothing") {
    val tmp = Files.createTempDirectory("graft_uri")
    val landing = Files.createDirectory(tmp.resolve("landing"))
    val store = tmp.resolve("store").toUri.toString
    assert(store.startsWith("file:"))
    land(landing, 0 until 3)
    assert(tick(landing, s"$tmp/ckpt", store) == 3L)
    // tick 2: key 1 again under a new file name, and one new key
    land(landing, 1 until 2, name = "again")
    land(landing, 3 until 4)
    assert(tick(landing, s"$tmp/ckpt", store) == 4L)
    val keys = spark.read.parquet(store).select("k").as[Long].collect().sorted
    assert(keys.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("the store's declared schema is the one its footers hold") {
    val tmp = Files.createTempDirectory("graft_schema")
    val landing = Files.createDirectory(tmp.resolve("landing"))
    land(landing, 0 until 2)
    tick(landing, s"$tmp/ckpt", s"$tmp/store")
    assert(LandingSpec.namesAndTypes(spark.read.parquet(s"$tmp/store").schema) ==
      LandingSpec.namesAndTypes(storeSchema))
  }
}

object LandingSpec {
  /** A schema's fields as name and type, by name, nullability ignored at
    * every depth: a partitioned store's footers and paths give its
    * partition column last, and every column read back is nullable. */
  def namesAndTypes(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => f.name -> anyNull(f.dataType)).sortBy(_._1)

  private def anyNull(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, anyNull(f.dataType))))
    case a: ArrayType => ArrayType(anyNull(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(anyNull(m.keyType), anyNull(m.valueType), valueContainsNull = true)
    case other => other
  }
}
