package graft.ext

import org.apache.spark.sql.SparkSession

/** Read-only introspection facade over the (package-private) commit
  * protocol for measurement tools outside `graft.ext` — probes report
  * shard equilibria without widening [[IndexIO]]'s visibility. */
object IndexInspect {

  /** Live committed shard count (post-REPLACES) — the LSM equilibrium
    * number a soak watches. */
  def liveShardCount(spark: SparkSession, root: String): Int =
    IndexIO.liveCommittedIds(spark, root).size

  /** A live committed table, `shard` partition column included — the
    * probe surface for shard-placement assertions (`WriterRaceProbe`
    * proving no doc id landed in two live shards). */
  def readLiveCommitted(spark: SparkSession, root: String,
                        table: String): org.apache.spark.sql.DataFrame =
    IndexIO.readCommitted(spark, root, table,
      IndexIO.liveCommittedIds(spark, root))
}
