package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** ops/Landing is the one cron tick: a streaming writer built anywhere
  * else under src/main fails the scan. Its append contract is pinned
  * end to end by StreamingIngestSpec and StreamingCurationSpec. */
class LandingSpec extends SparkSpec {

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
}
