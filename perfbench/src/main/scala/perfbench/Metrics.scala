package perfbench

/** The metric names the benchmark reports; BENCHMARK.json lists the same. */
object Metrics {
  /** End-to-end metrics (tracing off), each with its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_s.p50" -> "s",
    "op_cpu_s.p50" -> "s",
    "output_mb" -> "MB")

  /** Layer groups: every group reports the full counter set. */
  val Groups: Seq[String] = Seq("sources", "coref", "geocode", "social", "export", "index",
    "search", "curation")
  val GroupCounters: Seq[(String, String)] = Seq("self_s" -> "s", "rows_out" -> "count",
    "jobs" -> "count", "tasks" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "busy_frac" -> "fraction")

  /** Spans: each reports its self time and output rows. */
  val Spans: Seq[String] = Seq("sources.extract", "sources.tag") ++
    Seq("within", "across").flatMap(k =>
      Seq("person", "organization", "location").map(t => s"coref.$k.$t")) ++
    Seq("geocode.run", "social.doc_entity", "social.edges", "social.thresholded") ++
    Seq("document", "document_entity", "entity", "geolocation", "mention")
      .map(t => s"export.relational.$t") ++
    Seq("export.graphml", "index.build", "index.build_positional",
      "search.conjunctive", "search.phrase", "search.sloppy",
      "curation.exact", "curation.minhash", "curation.rest")

  val Ratios: Seq[(String, String)] = Seq(
    "sources.reads_per_doc" -> "ratio",
    "coref.mentions_per_entity" -> "ratio",
    "geocode.hit_frac" -> "fraction",
    "social.pairs_per_edge" -> "ratio",
    "search.jobs_per_query" -> "count",
    "search.files_per_query" -> "fraction",
    "curation.kept_frac" -> "fraction",
    "engine.gc_s" -> "s",
    "engine.spill_mb" -> "MB",
    "trace.fused_s" -> "s",
    "trace.layers_s" -> "s",
    "trace.overhead_frac" -> "fraction")

  val PerLayer: Seq[(String, String)] =
    Groups.flatMap(g => GroupCounters.map { case (c, u) => s"$g.$c" -> u }) ++
      Spans.flatMap(s => Seq(s"$s.self_s" -> "s", s"$s.rows_out" -> "count")) ++
      Ratios
}
