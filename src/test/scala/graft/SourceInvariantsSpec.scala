package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main/scala`: native functions, optimizer rules and
  * planner strategies reach sessions through one install path, sessions
  * through one factory, profiling goes through one tool, and registered
  * SQL queries reach their views through one row form each. */
class SourceInvariantsSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally files.close()
  }

  private def filesWith(pattern: String): Seq[String] =
    sources.collect { case (f, text) if text.contains(pattern) => f }.sorted

  test("the scan sees the library sources") {
    assert(sources.exists(_._1 == "graft/GraftExtensions.scala"))
  }

  test("no session-dependent Column forks") {
    assert(filesWith("getActiveSession").isEmpty)
  }

  test("native functions are registered only by the extensions table") {
    assert(filesWith("registerFunction") == Seq("graft/GraftExtensions.scala"))
    assert(filesWith("injectFunction") == Seq("graft/GraftExtensions.scala"))
  }

  test("optimizer rules and planner strategies are added only by the extensions") {
    for (hook <- Seq("extraStrategies", "extraOptimizations",
        "injectPlannerStrategy", "injectOptimizerRule"))
      assert(filesWith(hook) == Seq("graft/GraftExtensions.scala"), hook)
  }

  test("no call_function with a native function name") {
    val natives = GraftExtensions.Functions.map(_.name).toSet
    val CallFunction = """call_function\(\s*"(\w+)"""".r
    val hits = for {
      (f, text) <- sources
      m <- CallFunction.findAllMatchIn(text)
      if natives(m.group(1))
    } yield s"$f: ${m.group(1)}"
    assert(hits.isEmpty)
  }

  test("the mains are Bench, Verify and the four tools, with one profiling tool") {
    assert(filesWith("def main(") == Seq("graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/BenchPair.scala", "graft/tools/GenScale.scala",
      "graft/tools/Profile.scala", "graft/tools/ReconError.scala"))
  }

  test("SparkEntry registers views only inside its two SQL row forms") {
    val lines = sources.collectFirst { case ("graft/SparkEntry.scala", t) => t }.get
      .linesIterator.toSeq
    /** The case class declared nearest above the one line calling `call`. */
    def owner(call: String): String = {
      val at = lines.indices.filter(lines(_).contains(call))
      assert(at.size == 1, call)
      lines.take(at.head + 1).reverseIterator.find(_.contains("case class ")).getOrElse("")
    }
    assert(owner("Tables.ensureViews(").contains("class FixtureSql("))
    assert(owner("PipelineViews.ensureOne(").contains("class ViewSql("))
  }

  test("exactly one SparkSession.builder(), inside GraftSession") {
    val builder = "SparkSession.builder()"
    val hits = sources.flatMap { case (f, text) =>
      Seq.fill(text.split(java.util.regex.Pattern.quote(builder), -1).length - 1)(f)
    }
    assert(hits == Seq("graft/GraftSession.scala"))
  }
}
