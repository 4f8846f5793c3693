package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 is the coverage contract: every query key it cites
  * must be registered, and every registered query must appear in it.
  * Round-2 review found stale file/symbol claims in the survey; this
  * pin makes the query-key half of that drift impossible.
  */
class SurveyConsistencySpec extends AnyFunSuite {

  private val keyRe = "`([a-z][0-9]{2}[a-z0-9_]+)`".r

  private lazy val surveyKeys: Set[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    // newline-anchored: "### §2a" subsection headers CONTAIN "## §2"
    val start = text.indexOf("\n## §2")
    val end = text.indexOf("\n## §3")
    assert(start >= 0 && end > start, "survey §2/§3 headers not found")
    val section2 = text.substring(start, end)
    keyRe.findAllMatchIn(section2).map(_.group(1)).toSet
  }

  test("every survey §2 query key is registered") {
    val registered = SparkEntry.queries.keySet
    val stale = surveyKeys.filterNot(registered)
    assert(stale.isEmpty,
      s"survey cites unregistered keys: ${stale.toSeq.sorted}")
  }

  test("every registered query appears in survey §2") {
    val missing = SparkEntry.queries.keySet.filterNot(surveyKeys)
    assert(missing.isEmpty,
      s"registered but not in the survey: ${missing.toSeq.sorted}")
  }
}
