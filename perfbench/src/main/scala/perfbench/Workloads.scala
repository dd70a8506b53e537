package perfbench

/** The registry queries each workload runs. Each is a small, fixed slice
  * of its family, sized so that a run (two set-ups, a cold pass and two
  * warm passes) takes about a minute on four cores; perfbench/README.md
  * says why each query is in. */
object Workloads {
  val all: Map[String, Seq[String]] = Map(
    // the paper's toolkits: MEANtools' herald loop, DriverNet's greedy
    // loop and ABCD-DNA, all multi-job with eager barriers and driver
    // gaps; then the one-plan operators they build on: the ppm range join
    // of the mass match, a graft.stats MAD filter and an Io temp-file
    // write read back; and graft.ops' checked id assignment, a driver
    // retry loop over checkpoints
    "omics_pipelines" -> Seq("q_pipeline_herald", "q_drivernet_greedy",
      "q_pipeline_abcd", "q_range_join", "q_mad_filter", "q_io_append",
      "q_ids_collision_checked"),
    // the dedup tiers over shingle checkpoints and text kernels (the three
    // queries that log accumulator ERRORs), a streaming exact dedup, and
    // hybrid retrieval: BM25 in graft.text fused with graft.sim's IVF
    // search and its k-means loop
    "llm_dedup" -> Seq("q_dedup_clusters", "q_minhash_lsh",
      "q_dedup_tier_agreement", "q_stream_dedup", "q_hybrid_retrieval_ivf"))
}
