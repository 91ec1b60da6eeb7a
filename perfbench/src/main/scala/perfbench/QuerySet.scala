package perfbench

/** The queries `query_suite` runs, in this order: the five ROADMAP.md
  * names as hot paths. Together they take 3.6% of the 197-query suite's
  * time in BENCH_SUMMARY_c8.json (4.78 s of 133.72 s). The suite's 20
  * slowest queries there take 61 s for one warm pass at scale 0.01 on 4
  * cores, more than a whole run may take. Each query has its own time in
  * the traced record (`query.<name>.s`). */
object QuerySet {
  val names: Seq[String] = Seq(
    "q195_fertility_delta_significance", "q110_ppl_buckets",
    "q178_mmr_quality_delta", "q53_dedup_clusters", "q85_lsh_cc")
}
