package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {
  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Oracle.percentile(xs, 50) == 2.5)
    assert(math.abs(Oracle.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Oracle.percentile(Seq(5.0), 95) == 5.0)
  }

  test("the tail percentile reported leaves at least 10 samples beyond it") {
    assert(Oracle.highestSupportedPercentile(13).isEmpty)
    assert(Oracle.highestSupportedPercentile(20).contains(50))
    assert(Oracle.highestSupportedPercentile(50).contains(80))
    assert(Oracle.highestSupportedPercentile(200).contains(95))
    assert(Oracle.highestSupportedPercentile(1000).contains(99))
  }

  // doc a: big(0) data(1) is(2) big(3) data(4); doc b: data(0) of(1) big(2)
  private val docs = Seq(
    new Oracle.DocTokens("a", Oracle.tokens("big data is big data\n")),
    new Oracle.DocTokens("b", Oracle.tokens("data of big")))

  test("conjunctive search sums term frequencies over docs holding all terms") {
    assert(Oracle.conjunctive(docs, Seq("big", "data")) == Map("a" -> 4L, "b" -> 2L))
    assert(Oracle.conjunctive(docs, Seq("big", "is")) == Map("a" -> 3L))
  }

  test("phrase search counts in-order chains within the per-gap slop") {
    assert(Oracle.phrase(docs, Seq("big", "data"), 0) == Map("a" -> 2L))
    assert(Oracle.phrase(docs, Seq("data", "big"), 0) == Map.empty)
    // gaps of 2 admit data(1)->big(3) in a and data(0)->big(2) in b
    assert(Oracle.phrase(docs, Seq("data", "big"), 1) == Map("a" -> 1L, "b" -> 1L))
  }

  test("sloppy search counts total-movement alignments") {
    // "data big"~2 in a: (data1,big0) (data1,big3) (data4,big3) fit; (data4,big0) does not
    assert(Oracle.sloppy(docs, Seq("data", "big"), 2)("a") == 3L)
    // b: data0 pp=0, big2 pp=1 -> span 1
    assert(Oracle.sloppy(docs, Seq("data", "big"), 2)("b") == 1L)
    // equal terms must take distinct positions
    assert(Oracle.sloppy(docs, Seq("big", "big"), 3) == Map("a" -> 1L))
  }

  test("social edges are recomputed from document_entity and thresholded") {
    val de = Seq(
      Oracle.DocEntity(1, 10, 1), Oracle.DocEntity(1, 20, 2), Oracle.DocEntity(1, 30, 1),
      Oracle.DocEntity(2, 10, 1), Oracle.DocEntity(2, 20, 1),
      Oracle.DocEntity(3, 20, 1), Oracle.DocEntity(3, 30, 1), Oracle.DocEntity(3, 99, 5))
    val p = "across_doc_person_coref"
    val ents = Seq(Oracle.Entity(10, p, 2), Oracle.Entity(20, p, 3), Oracle.Entity(30, p, 2),
      Oracle.Entity(99, "weak", 1))
    val edges = Oracle.socialEdges(de, ents, nodeMinDocs = 2, edgeMinDocs = 2)
    assert(edges == Set(Oracle.Edge(10, 20, 2), Oracle.Edge(20, 30, 2)))
    assert(Oracle.checkEdges(edges.toSeq, edges, Set(10L, 20L, 30L), 2).isEmpty)
    val flipped = Seq(Oracle.Edge(20, 10, 2), Oracle.Edge(20, 30, 2))
    assert(Oracle.checkEdges(flipped, edges, Set(10L, 20L, 30L), 2).nonEmpty)
  }

  test("document_entity sums must equal assigned and planted mentions") {
    val de = Seq(Oracle.DocEntity(1, 10, 2), Oracle.DocEntity(2, 10, 1))
    assert(Oracle.docEntitySums(de, 3, 3).isEmpty)
    assert(Oracle.docEntitySums(de, 4, 4).size == 1)
    assert(Oracle.docEntitySums(de, 3, 5).size == 1)
  }

  test("geocoding must hit every place seen in two docs at its coordinates") {
    val places = Seq(Gen.Place("VALDORA", 10.0, -20.0, "gazetteer"),
      Gen.Place("12 30 00 N 70 15 00 W", 12.5, -70.25, "lat_long"),
      Gen.Place("RARE", 1.0, 1.0, "gazetteer"))
    val freq = Map("VALDORA" -> 3, "12 30 00 N 70 15 00 W" -> 2, "RARE" -> 1)
    val ok = Seq(("VALDORA", 10.0, -20.0), ("12 30 00 N 70 15 00 W", 12.5, -70.25))
    assert(Oracle.checkGeocode(ok, places, freq).isEmpty)
    assert(Oracle.checkGeocode(ok.take(1), places, freq).nonEmpty)
    assert(Oracle.checkGeocode(Seq(("VALDORA", 10.0, 20.0), ok(1)), places, freq).nonEmpty)
    assert(Gen.dmsValue((12, 30, 0)) == 12.5)
  }

  test("curation keeps every original and drops every planted defect") {
    val long = (1 to 12).map(i => s"w$i").mkString(" ")
    val other = (1 to 12).map(i => s"v$i").mkString(" ")
    val rep = Seq.fill(6)("a b c").mkString(" ")
    val in = Seq(Gen.CurateDoc(1, long, "en", "original"), Gen.CurateDoc(2, long, "en", "exact_dup"),
      Gen.CurateDoc(3, "too short", "en", "short"), Gen.CurateDoc(4, rep, "en", "repetitive"),
      Gen.CurateDoc(5, other, "fr", "original"), Gen.CurateDoc(6, other + " x", "fr", "near_dup"))
    assert(Oracle.checkCurated(in, Seq(1L, 5L), 10).isEmpty)
    assert(Oracle.checkCurated(in, Seq(1L, 5L, 6L), 10).isEmpty)
    // wrongly deleted: an empty result and a lost original both fail
    assert(Oracle.checkCurated(in, Nil, 10).nonEmpty)
    assert(Oracle.checkCurated(in, Seq(1L), 10).nonEmpty)
    // wrongly kept: each planted defect kind fails on its own
    assert(Oracle.checkCurated(in, Seq(1L, 5L, 2L), 10).nonEmpty)
    assert(Oracle.checkCurated(in, Seq(1L, 5L, 3L), 10).nonEmpty)
    assert(Oracle.checkCurated(in, Seq(1L, 5L, 4L), 10).nonEmpty)
    // ids outside the input or repeated
    assert(Oracle.checkCurated(in, Seq(1L, 5L, 42L), 10).nonEmpty)
    assert(Oracle.checkCurated(in, Seq(1L, 5L, 5L), 10).nonEmpty)
  }
}
