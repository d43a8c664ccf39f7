package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.Ingester
import graft.operators.{CacheScope, Coref, Curation, Dedup, Geocode, SocialNetwork}
import graft.sinks.{GraphML, RelationalExport, SearchIndex}
import graft.sources.{DocumentSource, Gazetteer}

/** One measured operation: wall seconds, process CPU seconds (all
  * threads; for concurrent queries the loop's CPU ÷ its queries), problems
  * its output check found (or the error it threw), and artifact bytes it
  * wrote. */
final case class Op(seconds: Double, cpuSeconds: Double, problems: Seq[String],
    outputBytes: Long) {
  def failed: Boolean = problems.nonEmpty
}

/** What a traced run adds to the spans: derived ratios, the fused
  * (listener-only) time and the summed layer time of the same work. */
final case class Traced(ops: Seq[Op], ratios: Map[String, Double], fusedSeconds: Double,
    layerSeconds: Double)

trait Workload {
  def name: String
  def describe: Seq[(String, Any)]
  /** Plain-Scala generation of the inputs (outside every timed region). */
  def generate(): Unit
  /** Inputs that need Spark to be written (parquet); not part of setup_s. */
  def generateWithSpark(spark: SparkSession): Unit = ()
  /** Set-up work after the session is up, before it is ready; in setup_s.
    * Runs once per set-up round, so it must overwrite its own output. */
  def prepare(spark: SparkSession): Unit = ()
  /** Warm-up before measuring, once per set-up round; in setup_s. */
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double): Seq[Op]
  def traced(spark: SparkSession, tracer: Tracer, seconds: Double): Traced
}

object Io {
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
  }

  def parquetFilesUnder(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator.asScala
      .count(p => p.getFileName.toString.endsWith(".parquet")).toLong

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Run an operation, then its output check; a throw counts as a failure. */
  def op(out: String)(body: => Unit)(check: => Seq[String]): Op = {
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    val err = Try(body).failed.toOption
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds() - c0
    val problems = err match {
      case Some(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case None => Try(check).fold(e => Seq(s"check threw ${e.getMessage}"), identity)
    }
    Op(secs, cpu, problems, bytesUnder(out))
  }

  /** Run `body` with the operators' internal persists released after. */
  def scoped[T](body: => T): T = {
    val (r, caches) = CacheScope.tracking(body)
    caches.release()
    r
  }
}

/** Output checks shared by the two ingest workloads (the relational
  * export + GraphML artifacts under `out`). */
object ExportChecks {
  val NodeMinDocs = 2
  val EdgeMinDocs = 2

  private val NodeRe = """<node id="n(-?\d+)">.*<data key="num_docs">(\d+)</data></node>""".r
  private val EdgeRe =
    """<edge id="e\d+" source="n(-?\d+)" target="n(-?\d+)"><data key="num_docs">(\d+)</data></edge>""".r

  def graphml(path: String): (Set[Long], Seq[Oracle.Edge]) = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
    val nodes = lines.collect { case NodeRe(id, _) => id.toLong }.toSet
    val edges = lines.collect { case EdgeRe(s, d, n) => Oracle.Edge(s.toLong, d.toLong, n.toLong) }.toSeq
    (nodes, edges)
  }

  /**
   * @param docKey document_id → key of the planted document
   * @param planted key → planted (type, text) mentions
   */
  def check(spark: SparkSession, out: String, planted: Map[String, Seq[(String, String)]],
      docKey: Row => String): Seq[String] = {
    val docs = spark.read.parquet(s"$out/document").collect()
    val keyOf = docs.map(r => r.getAs[Long]("document_id") -> docKey(r)).toMap
    val mentions = spark.read.parquet(s"$out/mention")
      .select("document_id", "type", "text", "entity_id").collect()
    val got = mentions.groupBy(r => keyOf.getOrElse(r.getLong(0), "?"))
      .map { case (k, rs) => k -> rs.map(r => (r.getString(1), r.getString(2))).toSeq.sorted }
    val want = planted.map { case (k, ms) => k -> ms.sorted }.filter(_._2.nonEmpty)
    val assigned = mentions.count(r => !r.isNullAt(3)).toLong
    val docEntity = spark.read.parquet(s"$out/document_entity").collect()
      .map(r => Oracle.DocEntity(r.getAs[Long]("document_id"), r.getAs[Long]("entity_id"),
        r.getAs[Long]("num_mentions")))
    val entities = spark.read.parquet(s"$out/entity").collect()
      .map(r => Oracle.Entity(r.getAs[Long]("entity_id"), r.getAs[String]("created_by"),
        r.getAs[Long]("num_documents")))
    val (nodes, edges) = graphml(s"$out/social_network.graphml")
    val wantNodes = entities.filter(_.numDocs >= NodeMinDocs).map(_.id).toSet
    Seq(
      if (docs.length != planted.size) Some(s"${docs.length} documents, ${planted.size} planted") else None,
      if (mentions.length != planted.values.map(_.size).sum)
        Some(s"${mentions.length} mentions, ${planted.values.map(_.size).sum} planted") else None,
      if (got != want) Some("mention texts differ from the planted ones") else None,
      if (nodes != wantNodes) Some(s"${nodes.size} GraphML nodes, ${wantNodes.size} expected") else None
    ).flatten ++
      Oracle.docEntitySums(docEntity.toSeq, assigned, planted.values.map(_.size).sum.toLong) ++
      Oracle.checkEdges(edges, Oracle.socialEdges(docEntity.toSeq, entities.toSeq,
        NodeMinDocs, EdgeMinDocs), wantNodes, EdgeMinDocs)
  }
}

/**
 * The staged decomposition the traced runs use: each public call of a
 * layer in its own span, its output forced at the boundary by the
 * stage's parquet checkpoint. Mirrors Ingester.run / the stage mains.
 */
object Staged {
  private val Passes = Seq(
    "person" -> (Coref.WithinDocParams.person, Coref.AcrossDocParams.person),
    "organization" -> (Coref.WithinDocParams.organization, Coref.AcrossDocParams.organization),
    "location" -> (Coref.WithinDocParams.location, Coref.AcrossDocParams.location))

  private def written(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** sources.extract + sources.tag → documents, mention_raw under `stage`. */
  def sources(spark: SparkSession, t: Tracer, corpus: String, stage: String): Unit = {
    t.span("sources.extract") {
      val raw = DocumentSource.scanDirectory(spark, corpus, "*.txt")
      written(spark, DocumentSource.extractText(raw).filter(col("text").isNotNull)
        .select("doc_id", "name", "path", "text"), s"$stage/documents")
    }
    t.span("sources.tag") {
      written(spark, DocumentSource.extractMentions(spark.read.parquet(s"$stage/documents")),
        s"$stage/mention_raw")
    }
  }

  def index(spark: SparkSession, t: Tracer, stage: String, out: String): Unit = {
    val docs = spark.read.parquet(s"$stage/documents")
    t.span("index.build") {
      SearchIndex.write(SearchIndex.build(docs, "doc_id", "text", nDocShards = 32),
        s"$out/search_index")
    }
    t.span("index.build_positional") {
      SearchIndex.write(SearchIndex.buildPositional(docs, "doc_id", "text", nDocShards = 32),
        s"$out/search_index_positional")
    }
  }

  /** Coref, geocode, social and export from the `stage` checkpoints into
    * `out`; returns the derived ratios of those layers. */
  def downstream(spark: SparkSession, t: Tracer, stage: String, out: String,
      gaz: DataFrame): Map[String, Double] = {
    val mentions = spark.read.parquet(s"$stage/mention_raw")
    val perType = Passes.map { case (tpe, (w, a)) =>
      val within = t.span(s"coref.within.$tpe") {
        val r = Coref.withinDoc(mentions, w)
        (written(spark, r.entities, s"$stage/t_within_ent_$tpe"),
          written(spark, r.assignment, s"$stage/t_within_asg_$tpe"))
      }
      t.span(s"coref.across.$tpe") {
        val r = Coref.acrossDoc(within._1, a)
        val assign = within._2.withColumnRenamed("entity_id", "within_id")
          .join(r.assignment.withColumnRenamed("entity_id", "within_id"), "within_id")
          .select(col("mention_id"), col("new_entity_id").as("entity_id"))
        (written(spark, r.entities, s"$stage/t_ent_$tpe"),
          written(spark, assign, s"$stage/t_asg_$tpe"))
      }
    }
    val entities = perType.map(_._1).reduce(_.unionByName(_))
    val assignment = perType.map(_._2).reduce(_.unionByName(_))
    val geo = t.span("geocode.run") {
      written(spark, Geocode.run(entities, gaz), s"$stage/t_geolocation")
    }
    val ments = mentions.select("mention_id", "doc_id")
    val docEntity = t.span("social.doc_entity") {
      written(spark, SocialNetwork.documentEntityCounts(assignment, ments), s"$stage/t_doc_entity")
    }
    val edges = t.span("social.edges") {
      written(spark, SocialNetwork.cooccurrenceEdges(assignment, ments, entities,
        maxEntitiesPerDoc = SocialNetwork.DefaultMaxEntitiesPerDoc), s"$stage/t_edges")
    }
    val (nodes, kept) = t.span("social.thresholded") {
      val (n, e) = SocialNetwork.thresholded(entities, edges,
        ExportChecks.NodeMinDocs, ExportChecks.EdgeMinDocs)
      (written(spark, n, s"$stage/t_nodes"), written(spark, e, s"$stage/t_kept_edges"))
    }
    val tables = RelationalExport.tables(spark.read.parquet(s"$stage/documents"), mentions,
      assignment, entities, geo, docEntity)
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      t.span(s"export.relational.$name") { RelationalExport.writeParquet(Map(name -> df), out) }
    }
    t.spanRows[Unit]("export.graphml",
      _ => Some(ExportChecks.graphml(s"$out/social_network.graphml") match {
        case (n, e) => (n.size + e.size).toLong })) {
      GraphML.write(nodes, kept, s"$out/social_network.graphml")
    }

    // Derived ratios, computed outside every span.
    val nMentions = mentions.count().toDouble
    val nEntities = entities.count().toDouble
    val locCandidates = entities.filter(col("created_by") === "across_doc_location_coref").count()
    val nGeo = geo.count()
    val persons = entities.filter(col("created_by") === "across_doc_person_coref").select("entity_id")
    val pairs = docEntity.join(persons, "entity_id").groupBy("doc_id").count()
      .select(sum(col("count") * (col("count") - 1) / 2)).head()
    val nPairs = if (pairs.isNullAt(0)) 0.0 else pairs.getDouble(0)
    val nEdges = edges.count()
    Map(
      "coref.mentions_per_entity" -> (if (nEntities > 0) nMentions / nEntities else 0.0),
      "geocode.hit_frac" -> (if (locCandidates > 0) nGeo.toDouble / locCandidates else 0.0),
      "social.pairs_per_edge" -> (if (nEdges > 0) nPairs / nEdges else 0.0))
  }
}

/** Files the executed plan's file scans read (parquet partition pruning
  * shows up here). */
object ScanStats extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
}

/** Batch workloads: repeated jobs over one input, each checked. */
abstract class BatchWorkload(work: String) extends Workload {
  val out = s"$work/out"
  /** The job: input read to last artifact written under `outDir`. */
  def job(spark: SparkSession, outDir: String): Unit
  def check(spark: SparkSession, outDir: String): Seq[String]
  /** Traced decomposition of one job into `outDir`; returns derived ratios. */
  def tracedJob(spark: SparkSession, t: Tracer, outDir: String): Map[String, Double]
  /** Traced seconds of the same work as the fused job: by default the
    * top-level spans' self times. */
  def layerSeconds(spans: Seq[Span]): Double = {
    val self = Trace.selfNs(spans)
    spans.filter(_.parent == 0).map(s => self(s.id)).sum / 1e9
  }
  /** Ratios measured on the fused job (engine counters before/after). */
  def fusedRatios(before: Counters, after: Counters): Map[String, Double] = Map.empty

  /** One unmeasured job on the real input per set-up round: the measured
    * jobs then run with compiled code and filled caches. */
  def warmup(spark: SparkSession): Unit = Io.scoped(job(spark, s"$work/warm_out"))

  /** Jobs until `seconds` of job time are spent, and an odd number of
    * them, so the median is one measured job. */
  def measure(spark: SparkSession, seconds: Double): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    var spent = 0.0
    var n = 0
    while (spent < seconds || n % 2 == 0) {
      val o = Io.op(out)(Io.scoped(job(spark, out)))(check(spark, out))
      ops += o
      spent += o.seconds
      n += 1
    }
    ops.result()
  }

  /** One fused job with only the listener attached, then one traced
    * decomposition of the same work; both are checked. */
  def traced(spark: SparkSession, t: Tracer, seconds: Double): Traced = {
    t.flush()
    val before = new Counters; before.add(t.engine)
    val fused = Io.op(out)(Io.scoped(job(spark, out)))(check(spark, out))
    t.flush()
    val fr = fusedRatios(before, t.engine)
    val tOut = s"$work/trace_out"
    var ratios = Map.empty[String, Double]
    val layered = Io.op(tOut) { ratios = Io.scoped(tracedJob(spark, t, tOut)) }(check(spark, tOut))
    Traced(Seq(fused, layered), fr ++ ratios, fused.seconds, layerSeconds(t.spans))
  }
}

// ------------------------------------------------------------ corpus_ingest

final class CorpusIngest(work: String, seed: Long) extends BatchWorkload(work) {
  val name = "corpus_ingest"
  val params = Gen.CorpusParams(nDocs = CorpusIngest.Docs)
  val corpusDir = s"$work/corpus"
  lazy val corpus: Gen.Corpus = Gen.corpus(seed, params)
  def describe: Seq[(String, Any)] = params.describe

  def generate(): Unit = CorpusIngest.writeTree(corpusDir, corpus)

  def job(spark: SparkSession, outDir: String): Unit =
    Ingester.run(spark, Ingester.Config(corpusDir, outDir))

  def check(spark: SparkSession, outDir: String): Seq[String] =
    CorpusIngest.check(spark, outDir, corpus)

  override def fusedRatios(before: Counters, after: Counters): Map[String, Double] =
    Map("sources.reads_per_doc" ->
      (after.fileScanRecords - before.fileScanRecords).toDouble / params.nDocs)

  def tracedJob(spark: SparkSession, t: Tracer, outDir: String): Map[String, Double] = {
    val stage = s"$work/trace_stage"
    Staged.sources(spark, t, corpusDir, stage)
    val r = Staged.downstream(spark, t, stage, outDir, Gazetteer.countries(spark))
    Staged.index(spark, t, stage, outDir)
    r
  }
}

object CorpusIngest {
  val Docs = 300

  def writeTree(root: String, c: Gen.Corpus): Unit =
    c.docs.foreach(d => Io.write(Paths.get(root, d.relPath), d.text))

  /** Path of a scanned file relative to its corpus root. */
  def relPath(path: String): String = path.substring(path.lastIndexOf("corpus/") + "corpus/".length)

  def check(spark: SparkSession, out: String, c: Gen.Corpus): Seq[String] = {
    val planted = c.docs.map(d => d.relPath -> d.mentions).toMap
    val texts = c.docs.map(d => d.relPath -> d.text).toMap
    val docs = spark.read.parquet(s"$out/document").select("path", "text").collect()
    val textMismatch = docs.count(r => !texts.get(relPath(r.getString(0))).contains(r.getString(1)))
    val geo = spark.read.parquet(s"$out/geolocation").count()
    ExportChecks.check(spark, out, planted, r => relPath(r.getAs[String]("path"))) ++ Seq(
      if (textMismatch > 0) Some(s"$textMismatch document texts differ from the files") else None,
      if (geo != 0) Some(s"$geo geolocations from a corpus without places") else None,
      if (!new File(s"$out/search_index").isDirectory ||
        !new File(s"$out/search_index_positional").isDirectory) Some("index artifacts missing") else None
    ).flatten
  }
}

// ------------------------------------------------------------ mention_feed

final class MentionFeed(work: String, seed: Long) extends BatchWorkload(work) {
  val name = "mention_feed"
  val params = Gen.FeedParams(nDocs = MentionFeed.Docs)
  val stage = s"$work/stage"
  lazy val feed: Gen.Feed = Gen.feed(seed, params)
  def describe: Seq[(String, Any)] = params.describe

  def generate(): Unit = { feed; () }

  override def generateWithSpark(spark: SparkSession): Unit = MentionFeed.writeFeed(spark, feed, stage)

  def job(spark: SparkSession, outDir: String): Unit = {
    Ingester.corefStage(spark, stage)
    Ingester.geocodeStage(spark, stage, MentionFeed.gazetteer(_, feed))
    Ingester.exportStage(spark, stage, outDir, Ingester.Config(stage, outDir))
  }

  def check(spark: SparkSession, outDir: String): Seq[String] = {
    val planted = feed.mentions.groupBy(m => MentionFeed.docId(m.docIdx).toString)
      .map { case (k, ms) => k -> ms.map(m => (m.mentionType, m.text)) }
    val docFreq = feed.mentions.filter(_.mentionType == "LOCATION")
      .map(m => (m.text, m.docIdx)).distinct.groupBy(_._1).map { case (k, v) => k -> v.size }
    val geo = spark.read.parquet(s"$outDir/geolocation").select("name", "latitude", "longitude")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    ExportChecks.check(spark, outDir, planted, r => r.getAs[Long]("document_id").toString) ++
      Oracle.checkGeocode(geo.toSeq, feed.places, docFreq)
  }

  def tracedJob(spark: SparkSession, t: Tracer, outDir: String): Map[String, Double] =
    Staged.downstream(spark, t, stage, outDir, MentionFeed.gazetteer(spark, feed))
}

object MentionFeed {
  val Docs = 200

  def docId(i: Int): Long = 7000000L + 13L * i

  def gazetteer(spark: SparkSession, f: Gen.Feed): DataFrame =
    Gazetteer.fromRows(spark, f.gazetteer.map(g => Gazetteer.Entry(g.name, g.lat, g.lon,
      g.lat - 1, g.lat + 1, g.lon - 1, g.lon + 1, "administrative", "zz", "PPL")))

  /** `documents` + `mention_raw` checkpoints in the stage layout. */
  def writeFeed(spark: SparkSession, f: Gen.Feed, stage: String): Unit = {
    import spark.implicits._
    f.texts.zipWithIndex.map { case (t, i) =>
      (docId(i), f"doc_$i%05d.txt", f"feed/doc_$i%05d.txt", t)
    }.toDF("doc_id", "name", "path", "text")
      .write.mode("overwrite").parquet(s"$stage/documents")
    f.mentions.map(m => (docId(m.docIdx), m.mentionType, m.start, m.stop, m.index,
      null: String, m.text))
      .toDF("doc_id", "mention_type", "text_start", "text_stop", "mention_index",
        "global_id", "text")
      .withColumn("mention_id", xxhash64(col("doc_id"), col("mention_index")))
      .write.mode("overwrite").parquet(s"$stage/mention_raw")
  }
}

// ------------------------------------------------------------ corpus_curate

final class CorpusCurate(work: String, seed: Long) extends BatchWorkload(work) {
  val name = "corpus_curate"
  val params = Gen.CurateParams(nDocs = CorpusCurate.Docs)
  val input = s"$work/docs"
  val cfg = Curation.CurationConfig()
  lazy val docs: Vector[Gen.CurateDoc] = Gen.curate(seed, params)
  def describe: Seq[(String, Any)] = params.describe

  def generate(): Unit = { docs; () }

  override def generateWithSpark(spark: SparkSession): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(input)
  }

  def job(spark: SparkSession, outDir: String): Unit =
    Curation.curate(spark.read.parquet(input), "doc_id", "text", "lang", cfg)
      .write.mode("overwrite").parquet(s"$outDir/curated")

  def check(spark: SparkSession, outDir: String): Seq[String] = {
    val ids = spark.read.parquet(s"$outDir/curated").select("id").collect().map(_.getLong(0))
    Oracle.checkCurated(docs, ids.toSeq, cfg.minTokens)
  }

  /** curation.exact and curation.minhash run standalone with curate's
    * parameters; curation.rest is the fused curate call (its self time
    * is reported net of the two standalone stages). */
  def tracedJob(spark: SparkSession, t: Tracer, outDir: String): Map[String, Double] = {
    val base = spark.read.parquet(input)
      .select(col("doc_id").as("id"), col("text"), col("lang").as("stratum"))
    val exactKept = t.span("curation.exact") {
      val kept = Dedup.exact(base, "id", "text").filter(col("is_dup") === 0)
        .select("id", "text", "stratum")
      kept.write.mode("overwrite").parquet(s"$work/trace_exact")
      spark.read.parquet(s"$work/trace_exact")
    }
    t.span("curation.minhash") {
      Dedup.minhashDedup(exactKept, "id", "text", n = cfg.shingleN, k = cfg.minhashK,
        bands = cfg.minhashBands, threshold = cfg.minhashThreshold,
        maxBucket = cfg.minhashMaxBucket, hash = cfg.minhashHash, overflow = cfg.minhashOverflow)
        .write.mode("overwrite").parquet(s"$work/trace_pairs")
    }
    t.span("curation.rest") { job(spark, outDir) }
    val kept = spark.read.parquet(s"$outDir/curated").count()
    Map("curation.kept_frac" -> kept.toDouble / params.nDocs)
  }

  /** The curate call alone is the fused job's traced twin (the two
    * standalone stages repeat work it contains). */
  override def layerSeconds(spans: Seq[Span]): Double =
    spans.filter(_.name == "curation.rest").map(s => (s.endNs - s.startNs) / 1e9).sum
}

object CorpusCurate {
  val Docs = 600
}

// ------------------------------------------------------------ search_serve

/**
 * Closed loop of `SearchServe.Clients` threads, each sending its next
 * query only after the previous reply. The index artifacts are built in
 * set-up from the corpus_ingest corpus through the extract and index
 * stage mains.
 */
final class SearchServe(work: String, seed: Long) extends Workload {
  import SearchServe.{Clients, Done}
  val name = "search_serve"
  val params = Gen.CorpusParams(nDocs = SearchServe.Docs)
  val qparams = Gen.QueryParams()
  val corpusDir = s"$work/corpus"
  val stage = s"$work/stage"
  lazy val corpus: Gen.Corpus = Gen.corpus(seed, params)
  lazy val queries: Vector[Gen.Query] = Gen.queries(seed, corpus, qparams)
  private lazy val docTokens = corpus.docs.map(d => new Oracle.DocTokens(d.relPath, Oracle.tokens(d.text)))
  @volatile private var relPathOf: Map[Long, String] = Map.empty
  private var indexFiles: Map[String, Long] = Map.empty
  def describe: Seq[(String, Any)] = params.describe ++ qparams.describe :+ ("clients" -> Clients)
  def index: String = s"$stage/search_index"
  def positional: String = s"$stage/search_index_positional"
  def artifactBytes: Long = Io.bytesUnder(index) + Io.bytesUnder(positional)

  def generate(): Unit = { CorpusIngest.writeTree(corpusDir, corpus); queries; docTokens; () }

  override def prepare(spark: SparkSession): Unit = {
    Ingester.extractStage(spark, corpusDir, stage)
    Ingester.indexStage(spark, stage)
    afterBuild(spark)
  }

  private def afterBuild(spark: SparkSession): Unit = {
    relPathOf = spark.read.parquet(s"$stage/documents").select("doc_id", "path").collect()
      .map(r => r.getLong(0) -> CorpusIngest.relPath(r.getString(1))).toMap
    indexFiles = Map(index -> Io.parquetFilesUnder(index),
      positional -> Io.parquetFilesUnder(positional))
  }

  def warmup(spark: SparkSession): Unit = {
    val warm = Gen.queries(seed + 1000003, corpus, qparams.copy(n = SearchServe.WarmQueries))
    warm.foreach(q => run(spark, q))
  }

  private def frame(spark: SparkSession, q: Gen.Query): DataFrame = q match {
    case Gen.Conjunctive(ts) => SearchIndex.searchConjunctive(spark, index, ts)
    case Gen.Phrase(ts) => SearchIndex.searchPhrase(spark, positional, ts, 0)
    case Gen.Sloppy(ts, s) => SearchIndex.searchPhraseSloppy(spark, positional, ts, s)
  }

  /** Execute one query; returns (doc → score or match count, files scanned ÷ artifact files). */
  def run(spark: SparkSession, q: Gen.Query): (Map[Long, Long], Double) = {
    val df = frame(spark, q)
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val artifact = q match { case _: Gen.Conjunctive => index; case _ => positional }
    (rows, ScanStats.filesRead(df).toDouble / math.max(1L, indexFiles(artifact)))
  }

  def check(q: Gen.Query, got: Map[Long, Long]): Seq[String] = {
    val byPath = got.map { case (id, v) => relPathOf.getOrElse(id, s"?$id") -> v }
    val want = Oracle.expected(docTokens, q)
    if (byPath == want) Nil
    else Seq(s"${q.kind} ${q.terms.mkString(" ")}: ${byPath.size} hits, ${want.size} expected")
  }

  /** Position in the query list; successive loops continue from it. */
  private val next = new AtomicInteger(0)

  /** The closed loop; `tracer` wraps each query in a span when given.
    * Returns the answered queries, the loop's wall seconds and its
    * process CPU seconds. Checks run after the clients have stopped, so
    * they delay no query and are outside both times. */
  def loop(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): (Seq[Done], Double, Double) = {
    val results = new ConcurrentLinkedQueue[(Done, Map[Long, Long])]()
    val c0 = Io.cpuSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val q = queries(next.getAndIncrement() % queries.size)
          val s = System.nanoTime()
          val r = Try(tracer match {
            case Some(t) => t.spanRows(s"search.${q.kind}",
                (r: (Map[Long, Long], Double)) => Some(r._1.size.toLong))(run(spark, q))
            case None => run(spark, q)
          })
          val secs = (System.nanoTime() - s) / 1e9
          r.fold(
            e => results.add((Done(q, secs, Seq(s"threw ${e.getMessage}"), 0.0), Map.empty)),
            { case (rows, ff) => results.add((Done(q, secs, Nil, ff), rows)) })
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Io.cpuSeconds() - c0
    val done = results.asScala.toSeq.map { case (d, rows) =>
      if (d.problems.nonEmpty) d else d.copy(problems = check(d.q, rows))
    }
    (done, wall, cpu)
  }

  @volatile var lastWall: Double = 0.0

  /** Concurrent queries share the executors, so a query's own CPU time
    * cannot be told apart: every query gets the loop's CPU ÷ its queries,
    * and `op_cpu_s.p50` is that per-query mean on this workload. */
  def measure(spark: SparkSession, seconds: Double): Seq[Op] = {
    val (done, wall, cpu) = loop(spark, seconds, None)
    val cpuPerQuery = cpu / math.max(1, done.size)
    lastWall = wall
    val bytes = artifactBytes
    done.map(d => Op(d.seconds, cpuPerQuery, d.problems, bytes))
  }

  /** Set-up's extract and index stages as spans, half the loop with the
    * listener only and half with a span per query, then the ingest layers
    * this workload never reaches (coref, geocode, social, export) traced
    * over a mention feed, whose output is checked like mention_feed's. */
  def traced(spark: SparkSession, t: Tracer, seconds: Double): Traced = {
    // File-scan records over docs in one fused extract stage (the
    // set-up's first call): above 1 means the corpus is scanned twice.
    t.flush()
    val scanned0 = t.engine.fileScanRecords
    Ingester.extractStage(spark, corpusDir, s"$work/fused_stage")
    t.flush()
    val readsPerDoc = (t.engine.fileScanRecords - scanned0).toDouble / params.nDocs
    val tStage = s"$work/trace_stage"
    Staged.sources(spark, t, corpusDir, tStage)
    Staged.index(spark, t, tStage, tStage)
    val (plain, _, _) = loop(spark, seconds / 2, None)
    val before = t.spans.size
    val (spanned, _, _) = loop(spark, seconds / 2, Some(t))
    val querySpans = t.spans.drop(before)
    val jobs = querySpans.map(_.counters.jobs.toDouble)
    val bytes = artifactBytes

    val feed = new MentionFeed(s"$work/feed", seed)
    feed.generate()
    feed.generateWithSpark(spark)
    val feedOut = s"$work/feed/out"
    var ratios = Map.empty[String, Double]
    val feedOp = Io.op(feedOut) {
      ratios = Io.scoped(feed.tracedJob(spark, t, feedOut))
    }(feed.check(spark, feedOut))

    Traced((plain ++ spanned).map(d => Op(d.seconds, 0.0, d.problems, bytes)) :+ feedOp,
      ratios ++ Map(
        "sources.reads_per_doc" -> readsPerDoc,
        "search.jobs_per_query" -> (if (jobs.isEmpty) 0.0 else jobs.sum / jobs.size),
        "search.files_per_query" -> (if (spanned.isEmpty) 0.0 else spanned.map(_.filesFrac).sum / spanned.size)),
      Oracle.percentile(plain.map(_.seconds), 50),
      Oracle.percentile(spanned.map(_.seconds), 50))
  }
}

object SearchServe {
  val Docs = 300
  /** Client threads of the closed loop. */
  val Clients = 2
  /** Unmeasured queries per set-up round (consecutive queries of the
    * kind cycle, so every kind is among them). */
  val WarmQueries = 3

  /** One answered query: latency, check problems, files-read fraction. */
  final case class Done(q: Gen.Query, seconds: Double, problems: Seq[String], filesFrac: Double)
}
