package perfbench

/** The per-layer metrics of a traced run, in print order. Every traced
  * run prints all of [[all]]; a layer a workload does not reach reads 0.
  */
object Layers {
  val stages: Seq[String] = Seq("bronze_scholar", "bronze_arxiv", "bronze_nyt",
    "silver_scholar", "silver_arxiv", "silver_nyt", "gold_words", "gold_scored")

  /** Execution-bound read queries. q53_star_clusters and
    * q39_dedup_keep_one, which share q214's clustering code, are left
    * out: they added about 12 s to every run, more than the benchmark's
    * time budget holds.
    */
  val longQueries: Seq[String] = Seq("q127_dedup_report", "q214_capped_clusters",
    "q01_pricing_summary", "q58_repetition")
  /** Overhead-bound read queries. */
  val shortQueries: Seq[String] = Seq("q21_lang_id", "q40_media_stats",
    "q49_approx_distinct", "q12_latest_per_key", "q33_asof_join", "q25_ngram_jaccard_pairs")

  val all: Seq[(String, String)] =
    stages.flatMap(s => Seq(s"stage.$s.wall_s" -> "s", s"stage.$s.plan_s" -> "s",
      s"stage.$s.driver_s" -> "s", s"stage.$s.jobs" -> "count", s"stage.$s.task_s" -> "s")) ++
      Seq("pipeline.tasks" -> "count", "pipeline.core_busy" -> "ratio",
        "pipeline.shuffle_bytes" -> "bytes", "pipeline.output_bytes" -> "bytes") ++
      Seq("sources.discovery_s" -> "s", "sources.files_written" -> "count",
        "sources.ledger_versions" -> "count", "sources.merge_rewrite_ratio" -> "ratio",
        "sources.stored_per_landed" -> "ratio") ++
      (longQueries ++ shortQueries).flatMap(q => Seq(s"read.$q.wall_s" -> "s",
        s"read.$q.plan_s" -> "s", s"read.$q.driver_s" -> "s")) ++
      Seq("read.tasks" -> "count", "read.task_s" -> "s", "read.core_busy" -> "ratio",
        "read.shuffle_bytes" -> "bytes")
}
