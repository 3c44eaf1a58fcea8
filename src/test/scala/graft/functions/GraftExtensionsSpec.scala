package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The native-function catalog. The shared session is built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` and nothing
  * else, so every entry must resolve there with no register call; and
  * every `graft_<name>(` written under src/main must be a catalog entry,
  * or it resolves only in a session where some other code path put it
  * in the registry first. */
class GraftExtensionsSpec extends SparkSpec {

  private val names = GraftExtensions.catalog.map(_.name)

  test("every catalog function resolves and DESCRIBE prints its usage") {
    assert(names.distinct.size == names.size, s"duplicate names: ${names.diff(names.distinct)}")
    GraftExtensions.catalog.foreach { f =>
      assert(spark.catalog.functionExists(f.name), s"${f.name} does not resolve")
      val described = spark.sql(s"DESCRIBE FUNCTION ${f.name}")
        .collect().map(_.getString(0)).toSeq
      assert(described.contains(s"Function: ${f.name}"), described)
      assert(described.contains(s"Usage: ${f.usage}"), described)
    }
  }

  test("every graft_<name>( call under src/main is a catalog function") {
    // `graft_<stem>(` names one function; `graft_<stem>$k(` (an
    // interpolated width) must at least name a catalog family
    // `graft_<stem><digits>` — its value is known only at run time
    val call = """graft_([a-z0-9_]+)(\$\{?\w+\}?)?\(""".r
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val calls = sources.flatMap { p =>
      call.findAllMatchIn(Files.readString(p)).map(m =>
        (p.getFileName.toString, "graft_" + m.group(1), m.group(2) != null))
    }
    assert(calls.size >= 30, s"scan found only ${calls.size} calls")
    val unknown = calls.filterNot { case (_, name, interpolated) =>
      if (interpolated) names.exists(_.matches(java.util.regex.Pattern.quote(name) + "\\d+"))
      else names.contains(name)
    }
    assert(unknown.isEmpty, s"calls to functions not in the catalog: $unknown")
  }
}
