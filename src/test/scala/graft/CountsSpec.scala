package graft

import org.scalatest.funsuite.AnyFunSuite

/** Derived public counts: the README/SURVEY headline numbers are
  * COMPUTED from the registry Verify and Bench consume — SparkEntry.queries,
  * SparkEntry.oracleSql and the headline lane — and this spec fails the
  * suite whenever a documented number drifts from the registry. */
class CountsSpec extends AnyFunSuite {

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.mkString finally src.close()
  }

  private lazy val registered = SparkEntry.queries.size
  private lazy val gated = SparkEntry.oracleSql.size
  private lazy val headline = SparkEntry.lane(Headline).size

  test("no query name is registered by two modules (flatMap.toMap would " +
    "silently keep the LAST module's and shadow the other)") {
    val all = SparkEntry.registry.map(_.name)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query registrations: ${dups.toSeq.sorted}")
  }

  test("README.md operator-families line matches the registry") {
    val re = """(\d+) registered queries, (\d+) DuckDB-hash-gated""".r
    re.findFirstMatchIn(read("README.md")) match {
      case Some(m) =>
        assert(m.group(1).toInt == registered,
          s"README says ${m.group(1)} registered; registry has $registered")
        assert(m.group(2).toInt == gated,
          s"README says ${m.group(2)} hash-gated; registry has $gated")
      case None => fail("README.md no longer carries the counts line " +
        "'(N registered queries, M DuckDB-hash-gated)'")
    }
  }

  test("SURVEY.md headline-bench count matches the headline lane") {
    val re = """the full (\d+)-query headline bench""".r
    re.findFirstMatchIn(read("SURVEY.md")) match {
      case Some(m) =>
        assert(m.group(1).toInt == headline,
          s"SURVEY says ${m.group(1)}-query headline; the headline lane has $headline")
      case None => fail("SURVEY.md no longer carries the " +
        "'the full N-query headline bench' line")
    }
  }

  test("checker trips on a deliberately wrong count (fixture)") {
    // The regexes above are load-bearing; prove a drifted number is
    // actually caught rather than silently unmatched.
    val re = """(\d+) registered queries, (\d+) DuckDB-hash-gated""".r
    val fake = "something (9999 registered queries, 8888 DuckDB-hash-gated)"
    val m = re.findFirstMatchIn(fake).get
    assert(m.group(1).toInt != registered && m.group(2).toInt != gated)
  }

  test("a query subset runs in registry order and an unknown name throws " +
    "(Bench and Verify name their queries through SparkEntry.subset)") {
    val all = SparkEntry.registry.map(_.name)
    val picked = Seq(all(40), all(3), all(17))
    assert(SparkEntry.subset(picked) === Seq(all(3), all(17), all(40)))
    val e = intercept[IllegalArgumentException](
      SparkEntry.subset(Seq(all(3), "q_typo")))
    assert(e.getMessage.contains("q_typo"))
    // Verify rejects the name before it dumps anything or starts a session
    val out = java.nio.file.Files.createTempDirectory("verify-typo").toFile
    intercept[IllegalArgumentException](
      Verify.main(Array(TestSession.sfDir, out.getPath, "q_typo")))
    assert(out.list().isEmpty)
  }
}
