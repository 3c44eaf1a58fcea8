package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** ops/DriverCollect: the bound is inclusive (exactly `max` rows still
  * come back), and it is the only collect-if-small decision under
  * src/main — a site that builds its own `limit(bound + 1)` or keeps its
  * own copy of the bound fails the scan. */
class DriverCollectSpec extends SparkSpec {
  import spark.implicits._

  test("upTo returns all n rows at max = n and None at max = n - 1") {
    val n = 37
    val ds = (1 to n).toDS()
    assert(DriverCollect.upTo(ds, n).map(_.sorted.toSeq) == Some(1 to n))
    assert(DriverCollect.upTo(ds, n - 1).isEmpty)
    assert(DriverCollect.upTo(ds.filter(_ < 0), 0).map(_.toSeq) == Some(Seq.empty))
  }

  test("no bounded collect under src/main outside DriverCollect") {
    // the retired per-site bounds, bracketed so that a grep of the
    // repository for their names finds no hit in this file
    val banned = """\.limit\([^)]*\+\s*1\)|Local[E]dgeMax|ErLocal[N]ameMax""".r
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "DriverCollect.scala").toSeq
    assert(sources.size > 50, s"scan found only ${sources.size} files")
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined =>
          s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"use DriverCollect.upTo instead: $hits")
  }
}
