package graft.tools

import graft.streaming.EventsStream

/** Dev-only: drain the stateful-streaming family under the default
  * (HDFS-backed) and RocksDB state-store providers and print rows/s —
  * the backend-choice evidence PERF.md records (HDFS-backed state
  * lives on the executor heap; RocksDB spills to local disk, which is
  * what an unbounded-key stream needs).
  * Usage: runMain graft.tools.StreamStateBench [sfDir]
  */
object StreamStateBench {
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session()
    val targets: Seq[(String, String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("q47_userstats", "update",
        () => EventsStream.userStats(EventsStream.source(spark, dir))),
      ("q85_chunks", "append",
        () => EventsStream.chunkEvents(EventsStream.source(spark, dir))),
      ("q93_dedup_wm", "append",
        () => EventsStream.dedupKeysWithinWatermark(EventsStream.source(spark, dir))),
      ("q129_funnel", "update",
        () => EventsStream.funnelStages(EventsStream.source(spark, dir))),
      ("q141_attrib", "update",
        () => EventsStream.attributionStages(EventsStream.source(spark, dir))))
    for (provider <- Seq("hdfs_default", "rocksdb")) {
      if (provider == "rocksdb") spark.conf.set(ProviderKey, RocksDb)
      else spark.conf.unset(ProviderKey)
      for ((name, mode, mk) <- targets) {
        // warm-up then two timed drains, best wins (bench convention)
        EventsStream.runAvailableNowStats(spark, mk(), s"ssb_w_${provider}_$name", mode)
        val best = (1 to 2).map { i =>
          EventsStream.runAvailableNowStats(
            spark, mk(), s"ssb_${i}_${provider}_$name", mode)._2
        }.maxBy(_.rowsPerSec)
        println(f"[state-bench] $provider%-13s $name%-14s " +
          f"rows=${best.inputRows}%7d batches=${best.batches}%2d " +
          f"rows_per_sec=${best.rowsPerSec}%10.0f")
      }
    }
    spark.stop()
  }
}
