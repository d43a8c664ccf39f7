package perfbench

import scala.collection.mutable

/**
 * Output checks that do not trust the program: plain-Scala brute force
 * over the generated inputs, plus the statistics the benchmark reports.
 * Each check returns the list of problems it found (empty = correct).
 */
object Oracle {

  // ------------------------------------------------------------ statistics

  /** Linear-interpolated percentile (the numpy default), q in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of `candidates` that leaves at least `beyond` samples
    * above it among `n` samples, if any. */
  def highestSupportedPercentile(n: Int, candidates: Seq[Int] = Seq(50, 75, 80, 90, 95, 99),
      beyond: Int = 10): Option[Int] =
    candidates.sorted.reverse.find(p => n * (100 - p) / 100.0 >= beyond)

  // ------------------------------------------------------------ search

  /** Whitespace tokenisation exactly as the index splits (`\s+`, empty
    * tokens kept so positions line up). */
  def tokens(text: String): Array[String] = text.split("\\s+", -1)

  final class DocTokens(val key: String, val toks: Array[String]) {
    /** term → sorted positions of the index-eligible tokens. */
    lazy val positions: Map[String, Array[Int]] = {
      val m = mutable.HashMap.empty[String, mutable.ArrayBuilder[Int]]
      toks.indices.foreach { i =>
        val t = toks(i)
        if (t.length >= 2) m.getOrElseUpdate(t, Array.newBuilder[Int]) += i
      }
      m.map { case (k, v) => k -> v.result() }.toMap
    }
  }

  /** Docs holding every term; score = summed term frequency. */
  def conjunctive(docs: Seq[DocTokens], terms: Seq[String]): Map[String, Long] = {
    val ts = terms.distinct
    docs.flatMap { d =>
      val ps = ts.map(t => d.positions.getOrElse(t, Array.emptyIntArray))
      if (ps.exists(_.isEmpty)) None else Some(d.key -> ps.map(_.length.toLong).sum)
    }.toMap
  }

  /** Ordered chains p0 < p1 < … with each gap in [1, 1 + slop]. */
  def phrase(docs: Seq[DocTokens], terms: Seq[String], slop: Int): Map[String, Long] =
    docs.flatMap { d =>
      val ps = terms.map(t => d.positions.getOrElse(t, Array.emptyIntArray))
      if (ps.exists(_.isEmpty)) None
      else {
        var counts: Map[Int, Long] = ps.head.map(_ -> 1L).toMap
        for (i <- 1 until terms.size) {
          counts = ps(i).iterator.map { p =>
            p -> counts.iterator.collect {
              case (q, c) if p > q && p <= q + 1 + slop => c }.sum
          }.filter(_._2 > 0).toMap
        }
        val n = counts.values.sum
        if (n > 0) Some(d.key -> n) else None
      }
    }.toMap

  /** Total-movement alignments: one position per slot, equal terms on
    * distinct positions, max(p_i - i) - min(p_i - i) <= slop. */
  def sloppy(docs: Seq[DocTokens], terms: Seq[String], slop: Int): Map[String, Long] =
    docs.flatMap { d =>
      val ps = terms.map(t => d.positions.getOrElse(t, Array.emptyIntArray))
      if (ps.exists(_.isEmpty)) None
      else {
        var n = 0L
        def go(i: Int, chosen: List[Int], lo: Int, hi: Int): Unit =
          if (i == terms.size) n += 1
          else ps(i).foreach { p =>
            val pp = p - i
            val nlo = math.min(lo, pp); val nhi = math.max(hi, pp)
            val clash = chosen.reverse.zipWithIndex.exists { case (q, j) =>
              terms(j) == terms(i) && q == p }
            if (nhi - nlo <= slop && !clash) go(i + 1, p :: chosen, nlo, nhi)
          }
        go(0, Nil, Int.MaxValue, Int.MinValue)
        if (n > 0) Some(d.key -> n) else None
      }
    }.toMap

  def expected(docs: Seq[DocTokens], q: Gen.Query): Map[String, Long] = q match {
    case Gen.Conjunctive(ts) => conjunctive(docs, ts)
    case Gen.Phrase(ts) => phrase(docs, ts, 0)
    case Gen.Sloppy(ts, s) => sloppy(docs, ts, s)
  }

  // ------------------------------------------------------------ ingest

  /** Rows of the exported `document_entity` and `entity` tables and of
    * the GraphML edge list. */
  final case class DocEntity(doc: Long, entity: Long, numMentions: Long)
  final case class Entity(id: Long, createdBy: String, numDocs: Long)
  final case class Edge(src: Long, dst: Long, numDocs: Long)

  /** `document_entity` must count every assigned mention exactly once. */
  def docEntitySums(docEntity: Seq[DocEntity], assignedMentions: Long,
      plantedMentions: Long): Seq[String] = {
    val sum = docEntity.iterator.map(_.numMentions).sum
    Seq(
      if (sum != assignedMentions)
        Some(s"document_entity sums to $sum, $assignedMentions mentions assigned") else None,
      if (assignedMentions != plantedMentions)
        Some(s"$assignedMentions mentions assigned, $plantedMentions planted") else None
    ).flatten
  }

  /** Co-occurrence edges recomputed from `document_entity` + `entity`,
    * thresholded on node and edge document counts. */
  def socialEdges(docEntity: Seq[DocEntity], entities: Seq[Entity],
      nodeMinDocs: Int, edgeMinDocs: Int,
      createdBy: String = "across_doc_person_coref"): Set[Edge] = {
    val persons = entities.iterator.filter(_.createdBy == createdBy).map(_.id).toSet
    val kept = entities.iterator.filter(_.numDocs >= nodeMinDocs).map(_.id).toSet
    val counts = mutable.HashMap.empty[(Long, Long), Long]
    docEntity.filter(de => persons.contains(de.entity)).groupBy(_.doc).values.foreach { des =>
      val ids = des.map(_.entity).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size)
        counts((ids(i), ids(j))) = counts.getOrElse((ids(i), ids(j)), 0L) + 1
    }
    counts.iterator.collect {
      case ((a, b), n) if n >= edgeMinDocs && kept(a) && kept(b) => Edge(a, b, n)
    }.toSet
  }

  /** Exported edges: src < dst, both thresholds, and equal to the
    * recomputed set. */
  def checkEdges(exported: Seq[Edge], expectedEdges: Set[Edge], keptNodes: Set[Long],
      edgeMinDocs: Int): Seq[String] = {
    val bad = exported.filter(e => !(e.src < e.dst) || e.numDocs < edgeMinDocs ||
      !keptNodes(e.src) || !keptNodes(e.dst))
    val got = exported.toSet
    Seq(
      if (bad.nonEmpty) Some(s"${bad.size} edges break src<dst or a threshold, e.g. ${bad.head}") else None,
      if (got.size != exported.size) Some("duplicate edges exported") else None,
      if (got != expectedEdges)
        Some(s"edges differ from recomputation: ${(got -- expectedEdges).size} extra, " +
          s"${(expectedEdges -- got).size} missing") else None
    ).flatten
  }

  /** Every planted place in at least `minDocs` documents geocodes to its
    * known coordinates; nothing else geocodes. */
  def checkGeocode(rows: Seq[(String, Double, Double)], places: Seq[Gen.Place],
      docFreq: Map[String, Int], minDocs: Int = 2): Seq[String] = {
    val byName = places.map(p => p.text -> p).toMap
    val expectedNames = places.filter(p => docFreq.getOrElse(p.text, 0) >= minDocs).map(_.text).toSet
    val got = rows.groupBy(_._1)
    val wrong = rows.filter { case (n, lat, lon) =>
      byName.get(n).forall(p => math.abs(p.lat - lat) > 1e-6 || math.abs(p.lon - lon) > 1e-6)
    }
    Seq(
      if (wrong.nonEmpty) Some(s"${wrong.size} geolocations off their planted coordinates, e.g. ${wrong.head}") else None,
      if (got.exists(_._2.size > 1)) Some("a place geocoded more than once") else None,
      if (got.keySet != expectedNames)
        Some(s"geocoded places differ: ${(got.keySet -- expectedNames).size} extra, " +
          s"${(expectedNames -- got.keySet).size} missing") else None
    ).flatten
  }

  // ------------------------------------------------------------ curation

  /** Planted kinds curate must drop (under `minTokens` tokens, trigram
    * repetitive, exact copy of an earlier doc). Originals must all be
    * kept; a near duplicate may go either way (MinHash estimates). */
  val DroppedKinds: Seq[String] = Seq("exact_dup", "short", "repetitive")

  /** Curated ids are a subset of the input without repeats, every planted
    * original is kept, every doc of a `DroppedKinds` kind is gone and
    * every survivor has at least `minTokens` tokens. */
  def checkCurated(input: Seq[Gen.CurateDoc], curatedIds: Seq[Long],
      minTokens: Int): Seq[String] = {
    val byId = input.map(d => d.id -> d).toMap
    val unknown = curatedIds.filterNot(byId.contains)
    val kept = curatedIds.flatMap(byId.get)
    val keptIds = kept.map(_.id).toSet
    val originalsLost = input.count(d => d.kind == "original" && !keptIds(d.id))
    val wrongKept = DroppedKinds.map(k => k -> kept.count(_.kind == k)).filter(_._2 > 0)
    val short = kept.count(d => d.text.trim.split("\\s+").length < minTokens)
    Seq(
      if (unknown.nonEmpty) Some(s"${unknown.size} curated ids not in the input") else None,
      if (curatedIds.distinct.size != curatedIds.size) Some("curated ids repeat") else None,
      if (originalsLost > 0) Some(s"$originalsLost planted originals dropped") else None,
      if (short > 0) Some(s"$short docs under $minTokens tokens kept") else None
    ).flatten ++ wrongKept.map { case (k, n) => s"$n planted $k docs kept" }
  }
}
