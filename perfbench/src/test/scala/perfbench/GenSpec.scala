package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DocumentSource

class GenSpec extends AnyFunSuite {
  private val small = Gen.CorpusParams(nDocs = 30)

  test("each generator is deterministic per seed and differs across seeds") {
    assert(Gen.corpus(7, small) == Gen.corpus(7, small))
    assert(Gen.corpus(7, small).docs != Gen.corpus(8, small).docs)
    val fp = Gen.FeedParams(nDocs = 10)
    assert(Gen.feed(7, fp) == Gen.feed(7, fp))
    assert(Gen.feed(7, fp).texts != Gen.feed(8, fp).texts)
    val cp = Gen.CurateParams(nDocs = 200)
    assert(Gen.curate(7, cp) == Gen.curate(7, cp))
    assert(Gen.curate(7, cp) != Gen.curate(8, cp))
    val c = Gen.corpus(7, small)
    val qp = Gen.QueryParams(n = 50)
    assert(Gen.queries(7, c, qp) == Gen.queries(7, c, qp))
  }

  test("the default tagger finds exactly the planted corpus mentions") {
    Gen.corpus(3, small).docs.foreach { d =>
      val tagged = DocumentSource.CapitalizedRunTagger.tag(d.text).map(m => (m.mentionType, m.text))
      assert(tagged == d.mentions, d.relPath)
    }
  }

  test("feed places never coreference-merge: distance >= 2, no prefixes") {
    val places = Gen.feed(5, Gen.FeedParams(nDocs = 5)).places.map(_.text)
    for (a <- places; b <- places if a != b) {
      assert(Gen.levenshtein(a, b) >= 2, s"$a ~ $b")
      assert(!a.startsWith(b), s"$b prefixes $a")
    }
    assert(places.distinct.size == places.size)
  }

  test("feed mention offsets point at the mention text") {
    val f = Gen.feed(9, Gen.FeedParams(nDocs = 4))
    f.mentions.foreach(m => assert(f.texts(m.docIdx).substring(m.start, m.stop) == m.text))
  }

  test("query kinds interleave in the configured shares") {
    val cycle = Gen.kindCycle(Gen.QueryParams())
    assert(cycle.count(_ == 0) == 4 && cycle.count(_ == 1) == 3 && cycle.count(_ == 2) == 3)
    assert(cycle.take(3).toSet == Set(0, 1, 2))
  }

  test("curation input plants exact duplicates with larger ids than originals") {
    val docs = Gen.curate(1, Gen.CurateParams(nDocs = 300))
    assert(docs.map(_.id).distinct.size == docs.size)
    val firstId = docs.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.id).min }
    val dups = docs.filter(_.kind == "exact_dup")
    assert(dups.nonEmpty)
    dups.foreach(d => assert(firstId(d.text) < d.id))
  }
}
