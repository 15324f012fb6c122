package graft.perfbench

import graft.nexmark.NexmarkSources

/** Writes a workload's saturation input at one seed to parquet, one
  * directory per stream, and prints the plain-Scala oracle's row count and
  * hash for it; oracle_check.py recomputes both in DuckDB.
  *
  * Arguments: workloads.json, workload, seed, output directory. */
object DumpInputs {
  def main(args: Array[String]): Unit = {
    val Array(config, name, seed, out) = args
    val w = Workload(name)
    val p = Params.load(config, name)
    val gen = p.saturationGen(seed.toLong, w.entities.size)
    val spark = PerfBench.session(p.parallelism, p.parallelism, w.rocksdb, s"$out/local")
    try w.entities.foreach { e =>
      spark.read.format("nexmark")
        .options(NexmarkSources.nexmarkOptions(e, gen.cfg(0), gen.parallelism, gen.rows, gen.rows))
        .load().write.parquet(s"$out/$e")
    } finally spark.stop()
    val rows = w.oracle(gen).collect { case (closeAt, r) if closeAt <= gen.finalWatermark => r }
    println(s"oracle ${rows.size} ${Workload.rowHash(rows).toHexString}")
  }
}
