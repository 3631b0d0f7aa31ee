package graft

/** The streaming dedup-cluster maintainer is size-gated between a driver
  * union-find repair (steady-state small recompute region) and the
  * distributed star-contraction fallback (region past the gate). The
  * fixture never crosses the default gate, so this spec forces the gate
  * to 0 and proves BOTH closure paths produce the identical end-of-stream
  * assignment — the property that makes the gate a pure performance
  * choice, never a semantics switch. */
class StreamClusterFallbackSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def run(): Set[(Long, Long)] =
    SparkEntry.queries("cdc_stream_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("driver union-find repair and distributed star-contraction " +
    "fallback produce identical cluster assignments") {
    val viaDriverRepair = run()
    assert(viaDriverRepair.nonEmpty, "fixture produced no duplicate pairs")
    System.setProperty("graft.dedup.repairGate", "0")
    try {
      val viaDistributed = run()
      assert(viaDistributed === viaDriverRepair,
        s"paths disagree: only-driver=${viaDriverRepair -- viaDistributed} " +
          s"only-distributed=${viaDistributed -- viaDriverRepair}")
    } finally System.clearProperty("graft.dedup.repairGate")
  }

  test("per-run cluster state dirs are deleted when the query returns " +
    "(no .scratch/stream_clusters orphans)") {
    // the preceding test ran the query twice; its nanoTime-keyed
    // UpsertSink dirs must be gone (results are materialized via
    // localCheckpoint before the delete)
    val root = new java.io.File(Artifacts.Root, "stream_clusters")
    val left = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
    assert(left.isEmpty, s"orphaned state dirs: ${left.map(_.getName)}")
  }
}
