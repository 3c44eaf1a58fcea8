package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The lang-id train/serve queries share trained state through
  * [[graft.ops.LinearTrain.cachedStates]]: once a session has trained a
  * config, building its query again must run no training job and no
  * documents count — only the `Tables` scan set-up. */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  private val Tag = "graft.spec.langid"

  /** Stage names ("<action> at <File>.scala:<line>") of every job this
    * thread starts inside `body`. A marker job closes the window: the
    * listener sees jobs in submission order, so once it has seen the
    * marker it has seen every job before it. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[(Boolean, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (ev.properties != null && ev.properties.getProperty(Tag) == id)
          seen.add((ev.properties.getProperty("spark.job.description") ==
            "marker", ev.stageInfos.map(_.name)))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, id)
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_._1) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_._1), "listener never saw the marker job")
      seen.asScala.toSeq.filterNot(_._1).flatMap(_._2)
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a second q211 construction in one session runs no job outside Tables") {
    val dir = Files.createTempDirectory("langid").toString
    val langs = Seq("de", "en", "es", "fr", "zh")
    (1 to 60).map { i =>
      val l = langs(i % langs.size)
      (i.toLong, l, Seq.tabulate(8)(j => s"$l${(i * 3 + j) % 5}w").mkString(" "))
    }.toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    val q211 = SparkEntry.queries("q211_langid_train")
    def outsideTables(stages: Seq[String]) =
      stages.filterNot(_.matches(".* at Tables\\.scala:\\d+"))
    try {
      val first = jobsDuring(q211(spark, dir))
      assert(outsideTables(first).nonEmpty,
        s"the first construction trains: $first")
      val second = jobsDuring(q211(spark, dir))
      assert(outsideTables(second).isEmpty,
        s"the second construction must be served from the memo: $second")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
