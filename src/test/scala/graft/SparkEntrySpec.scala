package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** The registry contract: every registered query under its own name,
  * each curation family in its own registry. */
class SparkEntrySpec extends AnyFunSuite {

  test("the registries hold 142 queries under 142 distinct names") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.size === 142)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.size === 142)
  }

  test("a name registered twice fails loudly and names every duplicate") {
    def q(name: String) = Q(name, "", (s, _) => s.emptyDataFrame, None)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.requireUniqueNames(Seq(q("a1"), q("b1"), q("a1"), q("c1"), q("b1")))
    }
    assert(e.getMessage.endsWith("registered more than once: a1, b1"), e.getMessage)
    val unique = Seq(q("a1"), q("b1"))
    assert(SparkEntry.requireUniqueNames(unique) eq unique)
  }

  test("each curation registry holds exactly its family's queries") {
    val families = Seq(
      DedupQueries -> ("dd", 12), TextQueries -> ("tx", 21),
      SketchQueries -> ("sk", 8), SearchQueries -> ("ss", 12),
      MultimodalQueries -> ("mm", 12), CorpusStreamQueries -> ("st", 10),
      LlmQueries -> ("llm", 7))
    for ((registry, (prefix, n)) <- families) {
      val names = registry.all.map(_.name)
      assert(names.size === n, s"$prefix: $names")
      assert(names.forall(_.matches(s"$prefix\\d+_.*")), s"$prefix: $names")
    }
  }
}
