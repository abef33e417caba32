package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.apache.spark.sql.execution.FormattedMode

import graft.tools.Profile

/** The one profiling tool: `--plans` writes the formatted plan, run
  * mode reports every job of three runs and detaches its listener. */
class ProfileSpec extends SparkSpec {
  private val Query = "q1a_top_revenue"

  // expression and plan ids differ between two constructions of a query
  private def withoutIds(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")

  private def listeners(): Int = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  test("--plans writes the query's formatted physical plan") {
    val dir = Files.createTempDirectory("profile-plans")
    Profile.dumpPlans(spark, sf, dir.toString, "change", Seq(Query))
    val written = Files.readString(dir.resolve(s"${Query}_change.txt"))
    val expected = SparkEntry.queries(Query)(spark, sf).queryExecution.explainString(FormattedMode)
    assert(written.contains("== Physical Plan =="))
    assert(withoutIds(written) == withoutIds(expected))
  }

  test("run mode: cold, warm and recold each report jobs and the row count, then detach") {
    val before = listeners()
    val buf = new ByteArrayOutputStream
    Profile.run(spark, sf, Seq(Query), new PrintStream(buf, true, "UTF-8"))
    assert(listeners() == before)
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    val rows = SparkEntry.queries(Query)(spark, sf).count()
    val Total = s"== $Query \\((\\w+)\\) TOTAL [\\d.]+ s rows=(\\d+) ==".r
    assert(lines.collect { case Total(tag, n) => tag -> n.toLong } ==
      Seq("cold" -> rows, "warm" -> rows, "recold" -> rows))
    for (tag <- Seq("cold", "warm", "recold")) {
      val Job = s"\\s+job\\s+\\d+\\s+\\d+ ms\\s+tasks=\\s*\\d+\\s+$Query:$tag".r
      assert(lines.exists(Job.matches), tag)
    }
  }

  test("run mode: each run reports its job and compile counts") {
    val buf = new ByteArrayOutputStream
    Profile.run(spark, sf, Seq(Query), new PrintStream(buf, true, "UTF-8"))
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    val Counts = s"== $Query \\((\\w+)\\) COUNTS jobs=(\\d+) compiles=(\\d+) ==".r
    val counts = lines.collect { case Counts(tag, jobs, _) => tag -> jobs.toInt }
    assert(counts.map(_._1) == Seq("cold", "warm", "recold"))
    // each count is the run's own job lines
    for ((tag, jobs) <- counts) {
      val Job = s"\\s+job\\s+\\d+\\s+\\d+ ms\\s+tasks=\\s*\\d+\\s+$Query:$tag".r
      assert(jobs > 0 && jobs == lines.count(Job.matches), tag)
    }
  }
}
