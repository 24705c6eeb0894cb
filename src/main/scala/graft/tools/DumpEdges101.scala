package graft.tools

import graft.llm.Dedup

/** Write q101's own thresholded edge list (the frame its connected
  * components close over) to `<outDir>/_edges_q101` so tools/sf10_checks.py
  * can replay the closure + keep stage in DuckDB at fixtures where the
  * signature replay is out of budget (the decomposed-oracle q101 row).
  * Usage: tools/run.sh graft.tools.DumpEdges101 <sfDir> <verifyOutDir> */
object DumpEdges101 {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.Sessions.build(s"local[$cpus]", cpus.toInt)
    Dedup.dedupEdges(s, Dedup.q101Corpus(s, sfDir), 0.8)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_edges_q101")
    s.stop()
  }
}
