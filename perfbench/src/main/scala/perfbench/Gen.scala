package perfbench

import scala.collection.mutable
import scala.util.Random

/**
 * Seeded input generators. Every generator is a pure function of its
 * parameters (seed included): the same seed gives byte-identical inputs.
 * Generation is plain Scala; the workloads write the results to disk
 * before any timed region starts.
 */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
  final class Zipf(n: Int, s: Double) {
    require(n > 0, "Zipf needs at least one item")
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(rng: Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      val j = if (i >= 0) i else -i - 1
      math.min(j, n - 1)
    }
  }

  private val Consonants = "bcdfghjklmnprstvz"
  private val Vowels = "aeiou"

  /** A pronounceable lowercase ASCII word of `syl` syllables. */
  private def word(rng: Random, syl: Int): String = {
    val sb = new StringBuilder
    for (_ <- 0 until syl) {
      sb += Consonants(rng.nextInt(Consonants.length))
      sb += Vowels(rng.nextInt(Vowels.length))
    }
    sb.toString
  }

  /** `n` distinct lowercase words (2-4 syllables), none in `avoid`. */
  def distinctWords(rng: Random, n: Int, minSyl: Int = 2, maxSyl: Int = 4,
      avoid: Set[String] = Set.empty): Vector[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val w = word(rng, minSyl + rng.nextInt(maxSyl - minSyl + 1))
      if (!avoid.contains(w)) seen += w
    }
    seen.toVector
  }

  def capitalize(w: String): String = w.head.toUpper +: w.tail

  /** Replace one lowercase letter after the first character: a one-edit
    * OCR variant that keeps the Capitalized shape of the word. */
  def ocrVariant(rng: Random, s: String): String = {
    val idx = (1 until s.length).filter(i => s(i).isLower)
    if (idx.isEmpty) s
    else {
      val i = idx(rng.nextInt(idx.size))
      val alphabet = (Consonants + Vowels).filter(_ != s(i))
      s.updated(i, alphabet(rng.nextInt(alphabet.length)))
    }
  }

  /** Bounded Levenshtein distance (exact; inputs here are short). */
  def levenshtein(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  // ------------------------------------------------------------ corpus

  val StopWords: Vector[String] = Vector("the", "of", "and", "to", "in",
    "is", "for", "on", "that", "by", "with", "as", "at", "from", "it",
    "was", "be", "are", "an", "or")

  final case class CorpusParams(
      nDocs: Int,
      minWords: Int = 60,
      maxWords: Int = 120,
      vocab: Int = 3000,
      zipfWords: Double = 1.1,
      persons: Int = 300,
      orgs: Int = 80,
      zipfEntities: Double = 1.0,
      minPersonsPerDoc: Int = 2,
      maxPersonsPerDoc: Int = 6,
      minOrgsPerDoc: Int = 1,
      maxOrgsPerDoc: Int = 3,
      variantRate: Double = 0.05,
      topDirs: Int = 6,
      subDirs: Int = 4) {
    def describe: Seq[(String, Any)] = Seq(
      "docs" -> nDocs, "words_per_doc" -> s"$minWords-$maxWords",
      "vocab" -> vocab, "zipf_words" -> zipfWords,
      "person_pool" -> persons, "org_pool" -> orgs,
      "zipf_entities" -> zipfEntities,
      "persons_per_doc" -> s"$minPersonsPerDoc-$maxPersonsPerDoc",
      "orgs_per_doc" -> s"$minOrgsPerDoc-$maxOrgsPerDoc",
      "variant_rate" -> variantRate, "dirs" -> s"${topDirs}x$subDirs")
  }

  /** One generated text file: path relative to the corpus root, the
    * exact text, and the entity mentions planted in it (in text order). */
  final case class CorpusDoc(relPath: String, text: String,
      mentions: Vector[(String, String)])

  final case class Corpus(params: CorpusParams, docs: Vector[CorpusDoc],
      vocab: Vector[String])

  /**
   * A directory tree of small `.txt` files: lowercase Zipf prose (the
   * most popular ranks are stop words) with Capitalized person names and
   * ALL-CAPS organisation names planted between words. No two entities
   * are adjacent and the prose holds no capitals, so the default tagger
   * finds exactly the planted mentions.
   */
  def corpus(seed: Long, p: CorpusParams): Corpus = {
    val rng = new Random(seed)
    val words = StopWords ++ distinctWords(rng, p.vocab - StopWords.size,
      avoid = StopWords.toSet)
    val nameParts = distinctWords(rng, 2 * p.persons, avoid = words.toSet)
    val persons = Vector.tabulate(p.persons)(i =>
      capitalize(nameParts(2 * i)) + " " + capitalize(nameParts(2 * i + 1)))
    val orgWords = distinctWords(rng, 2 * p.orgs, minSyl = 1, maxSyl = 3,
      avoid = (words ++ nameParts).toSet).map(_.toUpperCase)
    val orgs = Vector.tabulate(p.orgs)(i =>
      if (i % 3 == 0) orgWords(2 * i) else orgWords(2 * i) + " " + orgWords(2 * i + 1))
    val wz = new Zipf(words.size, p.zipfWords)
    val pz = new Zipf(persons.size, p.zipfEntities)
    val oz = new Zipf(orgs.size, p.zipfEntities)

    val docs = Vector.tabulate(p.nDocs) { d =>
      val nWords = p.minWords + rng.nextInt(p.maxWords - p.minWords + 1)
      val prose = Array.fill(nWords)(words(wz.sample(rng)))
      val nP = p.minPersonsPerDoc + rng.nextInt(p.maxPersonsPerDoc - p.minPersonsPerDoc + 1)
      val nO = p.minOrgsPerDoc + rng.nextInt(p.maxOrgsPerDoc - p.minOrgsPerDoc + 1)
      val ents = rng.shuffle(
        Vector.fill(nP) {
          val name = persons(pz.sample(rng))
          val m = if (rng.nextDouble() < p.variantRate) {
            val Array(first, last) = name.split(" ")
            first + " " + ocrVariant(rng, last)
          } else name
          ("PERSON", m)
        } ++ Vector.fill(nO)(("ORGANIZATION", orgs(oz.sample(rng)))))
      // Distinct interior gaps keep a prose word between any two entities.
      val gaps = rng.shuffle((1 until nWords).toVector).take(ents.size).sorted
      val byGap = gaps.zip(ents).toMap
      val sb = new StringBuilder
      val inOrder = Vector.newBuilder[(String, String)]
      for (i <- 0 until nWords) {
        byGap.get(i).foreach { case e @ (_, t) =>
          sb ++= t; sb += ' '; inOrder += e
        }
        sb ++= prose(i)
        sb += (if (i % 12 == 11 && i < nWords - 1) '\n' else ' ')
      }
      val text = sb.toString.trim + "\n"
      val rel = f"d${d % p.topDirs}%02d/s${(d / p.topDirs) % p.subDirs}%02d/doc_$d%05d.txt"
      CorpusDoc(rel, text, inOrder.result())
    }
    Corpus(p, docs, words)
  }

  // ------------------------------------------------------------ queries

  sealed trait Query { def terms: Seq[String]; def kind: String }
  final case class Conjunctive(terms: Seq[String]) extends Query { def kind = "conjunctive" }
  final case class Phrase(terms: Seq[String]) extends Query { def kind = "phrase" }
  final case class Sloppy(terms: Seq[String], slop: Int) extends Query { def kind = "sloppy" }

  final case class QueryParams(
      n: Int = 4000,
      conjunctiveFrac: Double = 0.4,
      phraseFrac: Double = 0.3,
      zipfTerms: Double = 0.8,
      slop: Int = 2) {
    def describe: Seq[(String, Any)] = Seq(
      "queries" -> n, "conjunctive_frac" -> conjunctiveFrac,
      "phrase_frac" -> phraseFrac,
      "sloppy_frac" -> math.max(0.0, 1.0 - conjunctiveFrac - phraseFrac),
      "zipf_terms" -> zipfTerms, "slop" -> slop)
  }

  /** Query kinds (0 conjunctive, 1 phrase, 2 sloppy) over a cycle of 10,
    * in the configured shares and interleaved by smooth weighted round
    * robin, so any few consecutive queries mix all three kinds. */
  def kindCycle(p: QueryParams): Vector[Int] = {
    val w = Array(p.conjunctiveFrac, p.phraseFrac, 1.0 - p.conjunctiveFrac - p.phraseFrac)
    val cur = Array(0.0, 0.0, 0.0)
    Vector.fill(10) {
      for (k <- 0 until 3) cur(k) += w(k)
      val k = cur.indices.maxBy(cur)
      cur(k) -= w.sum
      k
    }
  }

  /** Vocabulary ranks counted as popular (stop words among them). */
  val Popular = 50

  /**
   * The search mix. A conjunctive query pairs a popular term (Zipf over
   * the top ranks, stop words included) with a rarer one (Zipf over the
   * rest), so every query reads one long and one short posting list.
   * Phrase and sloppy queries take a token pair that occurs in some
   * document (so most return hits), and sloppy pairs are swapped half
   * the time (a transposition that only the total-movement slop admits).
   */
  def queries(seed: Long, corpus: Corpus, p: QueryParams): Vector[Query] = {
    val rng = new Random(seed * 31 + 7)
    val vocab = corpus.vocab
    val head = new Zipf(Popular, p.zipfTerms)
    val tail = new Zipf(vocab.size - Popular, p.zipfTerms)
    val tokenized = corpus.docs.map(d => Oracle.tokens(d.text).filter(_.length >= 2))
    def pair(): Seq[String] = {
      val toks = tokenized(rng.nextInt(tokenized.size))
      val i = rng.nextInt(toks.length - 1)
      Seq(toks(i), toks(i + 1))
    }
    val cycle = kindCycle(p)
    Vector.tabulate(p.n) { i =>
      cycle(i % cycle.size) match {
        case 0 =>
          Conjunctive(Seq(vocab(head.sample(rng)), vocab(Popular + tail.sample(rng))))
        case 1 => Phrase(pair())
        case _ =>
          val pr = pair()
          Sloppy(if (rng.nextBoolean()) pr.reverse else pr, p.slop)
      }
    }
  }

  // ------------------------------------------------------------ feed

  final case class FeedParams(
      nDocs: Int,
      persons: Int = 400,
      orgs: Int = 120,
      gazetteer: Int = 60,
      suffixForms: Int = 60,
      latLongs: Int = 40,
      zipfEntities: Double = 0.9,
      personsPerDoc: Int = 24,
      orgsPerDoc: Int = 8,
      locationsPerDoc: Int = 10,
      variantRate: Double = 0.06,
      firstNameRate: Double = 0.1,
      suffixRate: Double = 0.05) {
    def describe: Seq[(String, Any)] = Seq(
      "docs" -> nDocs, "person_pool" -> persons, "org_pool" -> orgs,
      "gazetteer_names" -> gazetteer, "suffix_forms" -> suffixForms,
      "lat_long_strings" -> latLongs, "zipf_entities" -> zipfEntities,
      "persons_per_doc" -> personsPerDoc, "orgs_per_doc" -> orgsPerDoc,
      "locations_per_doc" -> locationsPerDoc, "variant_rate" -> variantRate,
      "first_name_rate" -> firstNameRate, "name_suffix_rate" -> suffixRate)
  }

  /** A place the feed mentions and the coordinates it must geocode to. */
  final case class Place(text: String, lat: Double, lon: Double, kind: String)

  /** A gazetteer row the benchmark supplies to the geocoder. */
  final case class GazRow(name: String, lat: Double, lon: Double)

  final case class FeedMention(docIdx: Int, mentionType: String, start: Int,
      stop: Int, index: Int, text: String)

  final case class Feed(params: FeedParams, texts: Vector[String],
      mentions: Vector[FeedMention], gazetteer: Vector[GazRow],
      places: Vector[Place])

  private def dms(rng: Random): (Int, Int, Int) =
    (10 + rng.nextInt(80), rng.nextInt(60), rng.nextInt(60))

  /** The decimal value of a packed-with-separators DMS triple. */
  def dmsValue(t: (Int, Int, Int)): Double = t._1 + t._2 / 60.0 + t._3 / 3600.0

  /**
   * A pre-tagged mention feed: `documents` + `mention_raw` rows with dense
   * PERSON / ORGANIZATION / LOCATION mentions per document. Persons carry
   * first-name-only mentions, one-edit OCR variants and "Jr" suffix
   * forms; locations are gazetteer names, "<town> <gazetteer name>"
   * suffix forms and literal DMS lat/long strings. The location pool has
   * no two strings within edit distance 1 and no string that prefixes
   * another, so coreference never merges two different places.
   */
  def feed(seed: Long, p: FeedParams): Feed = {
    val rng = new Random(seed * 17 + 3)
    val filler = distinctWords(rng, 400)
    val parts = distinctWords(rng, 2 * p.persons, avoid = filler.toSet)
    val persons = Vector.tabulate(p.persons)(i =>
      (capitalize(parts(2 * i)), capitalize(parts(2 * i + 1))))
    val orgWords = distinctWords(rng, p.orgs, minSyl = 2, maxSyl = 3,
      avoid = (filler ++ parts).toSet).map(_.toUpperCase)
    val orgs = orgWords.zipWithIndex.map { case (w, i) =>
      if (i % 2 == 0) w + " CORP" else "BANCO " + w }

    // Location pool, rejection-sampled against edit distance 1 / prefixes.
    val pool = mutable.ArrayBuffer.empty[Place]
    val used = (filler ++ parts ++ orgWords.map(_.toLowerCase)).toSet
    def admissible(s: String): Boolean = pool.forall { q =>
      !q.text.startsWith(s) && !s.startsWith(q.text) && levenshtein(q.text, s) >= 2
    }
    val gaz = mutable.ArrayBuffer.empty[GazRow]
    while (gaz.size < p.gazetteer) {
      val name = word(rng, 3 + rng.nextInt(2)).toUpperCase
      if (!used.contains(name.toLowerCase) && admissible(name)) {
        val g = GazRow(name, (rng.nextInt(160000) - 80000) / 1000.0,
          (rng.nextInt(340000) - 170000) / 1000.0)
        gaz += g
        pool += Place(name, g.lat, g.lon, "gazetteer")
      }
    }
    var nSuffix = 0
    while (nSuffix < p.suffixForms) {
      val g = gaz(rng.nextInt(gaz.size))
      val s = word(rng, 2 + rng.nextInt(2)).toUpperCase + " " + g.name
      if (admissible(s)) { pool += Place(s, g.lat, g.lon, "suffix"); nSuffix += 1 }
    }
    var nLl = 0
    while (nLl < p.latLongs) {
      val a = dms(rng); val b = dms(rng)
      val s = f"${a._1}%02d ${a._2}%02d ${a._3}%02d N ${b._1}%02d ${b._2}%02d ${b._3}%02d W"
      if (admissible(s)) {
        pool += Place(s, dmsValue(a), -dmsValue(b), "lat_long"); nLl += 1
      }
    }
    val places = rng.shuffle(pool.toVector)

    val pz = new Zipf(persons.size, p.zipfEntities)
    val oz = new Zipf(orgs.size, p.zipfEntities)
    val lz = new Zipf(places.size, p.zipfEntities)
    val texts = Vector.newBuilder[String]
    val mentions = Vector.newBuilder[FeedMention]
    for (d <- 0 until p.nDocs) {
      val ents = rng.shuffle(
        Vector.fill(p.personsPerDoc) {
          val (f, l) = persons(pz.sample(rng))
          val u = rng.nextDouble()
          val t =
            if (u < p.firstNameRate) f
            else if (u < p.firstNameRate + p.variantRate) f + " " + ocrVariant(rng, l)
            else if (u < p.firstNameRate + p.variantRate + p.suffixRate) f + " " + l + " Jr"
            else f + " " + l
          ("PERSON", t)
        } ++ Vector.fill(p.orgsPerDoc)(("ORGANIZATION", orgs(oz.sample(rng))))
          ++ Vector.fill(p.locationsPerDoc)(("LOCATION", places(lz.sample(rng)).text)))
      val sb = new StringBuilder
      ents.zipWithIndex.foreach { case ((tpe, t), i) =>
        sb ++= filler(rng.nextInt(filler.size)); sb += ' '
        val start = sb.length
        sb ++= t
        mentions += FeedMention(d, tpe, start, sb.length, i, t)
        sb += ' '
      }
      sb ++= filler(rng.nextInt(filler.size))
      texts += sb.toString
    }
    Feed(p, texts.result(), mentions.result(), gaz.toVector, places)
  }

  // ------------------------------------------------------------ curation

  final case class CurateParams(
      nDocs: Int,
      minWords: Int = 40,
      maxWords: Int = 120,
      vocab: Int = 4000,
      zipfWords: Double = 1.0,
      langs: Seq[(String, Double)] = Seq("en" -> 0.5, "es" -> 0.25, "fr" -> 0.15, "de" -> 0.1),
      exactDupRate: Double = 0.08,
      nearDupRate: Double = 0.08,
      shortRate: Double = 0.04,
      repetitiveRate: Double = 0.03) {
    def describe: Seq[(String, Any)] = Seq(
      "docs" -> nDocs, "words_per_doc" -> s"$minWords-$maxWords",
      "vocab" -> vocab, "zipf_words" -> zipfWords,
      "langs" -> langs.map { case (l, w) => s"$l:$w" }.mkString(","),
      "exact_dup_rate" -> exactDupRate, "near_dup_rate" -> nearDupRate,
      "short_rate" -> shortRate, "repetitive_rate" -> repetitiveRate)
  }

  final case class CurateDoc(id: Long, text: String, lang: String, kind: String)

  /**
   * A documents table with `lang` strata and planted defects: exact
   * duplicates (the copy gets a larger id than its original), near
   * duplicates (one word in 40 replaced), too-short docs and
   * trigram-repetitive docs. Ids are distinct positive longs.
   */
  def curate(seed: Long, p: CurateParams): Vector[CurateDoc] = {
    val rng = new Random(seed * 13 + 5)
    val words = distinctWords(rng, p.vocab)
    val wz = new Zipf(words.size, p.zipfWords)
    def prose(n: Int): Array[String] = Array.fill(n)(words(wz.sample(rng)))
    // Exact counts of every kind, stratum and length, so inputs of
    // different seeds differ in content only, not in shape.
    def count(rate: Double) = math.round(rate * p.nDocs).toInt
    val (nExact, nNear, nShort, nRep) =
      (count(p.exactDupRate), count(p.nearDupRate), count(p.shortRate), count(p.repetitiveRate))
    val nOrig = p.nDocs - nExact - nNear - nShort - nRep
    val nBase = nOrig + nShort + nRep
    val langs = rng.shuffle(p.langs.zipWithIndex.flatMap { case ((l, w), i) =>
      val n = if (i == p.langs.size - 1) nBase - p.langs.init.map(x => math.round(x._2 * nBase).toInt).sum
              else math.round(w * nBase).toInt
      Seq.fill(n)(l)
    }.toVector)
    val lengths = rng.shuffle(Vector.tabulate(nOrig)(i =>
      p.minWords + (i.toLong * (p.maxWords - p.minWords) / math.max(1, nOrig - 1)).toInt))
    val base = rng.shuffle(
      Vector.tabulate(nOrig)(i => ("original", prose(lengths(i)).mkString(" "))) ++
        Vector.tabulate(nShort)(i => ("short", prose(3 + i % 5).mkString(" "))) ++
        Vector.tabulate(nRep) { i =>
          val tri = prose(3).mkString(" ")
          ("repetitive", Seq.fill(15 + i % 10)(tri).mkString(" "))
        })
    var id = 1000L
    def nextId(): Long = { id += 1 + rng.nextInt(5); id }
    val baseDocs = base.zip(langs).map { case ((kind, text), l) => CurateDoc(nextId(), text, l, kind) }
    val originals = baseDocs.filter(_.kind == "original")
    // Copies arrive after the base collection, so they carry larger ids.
    val copies = rng.shuffle(Vector.fill(nExact)(true) ++ Vector.fill(nNear)(false)).map { exact =>
      val o = originals(rng.nextInt(originals.size))
      if (exact) CurateDoc(nextId(), o.text, o.lang, "exact_dup")
      else {
        val toks = o.text.split(" ")
        CurateDoc(nextId(), toks.indices.map(i =>
          if (i % 40 == 17) words(wz.sample(rng)) else toks(i)).mkString(" "), o.lang, "near_dup")
      }
    }
    baseDocs ++ copies
  }

}
