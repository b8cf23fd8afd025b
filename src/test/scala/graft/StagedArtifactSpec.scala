package graft

/** A staged artifact deleted behind a current marker is rebuilt, and
  * the query returns the same rows. One row per stager that no
  * stale-marker spec already covers (d16, d20, q27, s11, BPE and st10
  * carry this case in theirs). */
class StagedArtifactSpec extends SparkSpec {

  private val accSf = "/root/testdata/sf0.01"

  private def rows(q: String, d: String = sf): () => Seq[String] =
    () => SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSeq.sorted

  /** (stage name, directory suffix, artifact to delete, corpus, run) */
  private val stagers: Seq[(String, String, String, String, () => Seq[String])] = Seq(
    ("partitioned", "", "layout", sf, rows("q29_partition_prune")),
    ("zorder", "", "data", sf, rows("q36_zorder_skip")),
    ("ivfdelta", "", "lists", sf, rows("s17_ivf_incremental")),
    ("graphindex", "", "edges", accSf, rows("s27_graph_ann", accSf)),
    ("graphdelta", "", "replaced", accSf, rows("s29_graph_incremental", accSf)),
    ("graphdeldelta", "", "edges", accSf, rows("s30_graph_delete", accSf)),
    ("stream_docs", "", "fp_manifest", sf, rows("st9_stream_admit")),
    ("stream", "_n1", "landing", sf, rows("st1_stream_window")),
    ("stream_multi", "_n4", "landing", sf, rows("st8_stream_multibatch")),
    ("stream_alldocs", "_n4", "landing", sf, rows("st12_stream_pii")),
    ("stream_embed", "_n3", "landing", sf, rows("st21_stream_index_admit")),
    ("stream_torder", "_n3", "landing", sf,
      () => streaming.StreamingOps.st19Files(spark, sf, 3).collect().map(_.toString).toSeq.sorted))

  for ((name, suffix, artifact, d, run) <- stagers)
    test(s"$name re-stages a missing $artifact behind a current marker") {
      val first = run()
      val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_${name}_${StagePath.corpusToken(d)}$suffix")
      assert(withoutArtifact(dir, artifact)(run()) == first,
        s"re-staging $artifact changed the rows")
    }
}
