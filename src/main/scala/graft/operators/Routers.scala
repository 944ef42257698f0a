package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** §2.8 — partition functions and routers.
  *
  * Reference: `PartitionFunction`/`ConstantPartitionFunction` assign a
  * producer-side logical partition per key
  * (databus2-event-producer-common/.../PartitionFunction.java:1);
  * `DbusPartitionRouter` (const/hash) routes events to consumer instances
  * (databus-core/.../core/DbusConstantPartitionRouter.java:1,
  * DbusHashPartitionRouter.java:1).
  *
  * Spark-first: a partition *function* is a column expression; *routing*
  * is `repartition(n, expr)` — Spark's shuffle service does the physical
  * movement the reference's router threads did.
  */
object Routers {

  /** Constant partition function (ConstantPartitionFunction.java:1). */
  def constantPartition(p: Int): Column = lit(p)

  /** Hash partition function over the numeric key. */
  def hashPartition(key: Column, numPartitions: Int): Column =
    pmod(abs(key), lit(numPartitions)).cast("int")

  /** Hash partition for string keys using the engine's native FNV-1a
    * expression (codegen'd; Fnv1aHashImpl parity family). */
  def fnvPartition(key: Column, numPartitions: Int): Column =
    pmod(abs(GraftFunctions.fnv_hash64(key)), lit(numPartitions)).cast("int")

  /** Route a frame to n physical partitions by key (hash router). */
  def routeByKey(df: DataFrame, key: Column, numPartitions: Int): DataFrame =
    df.repartition(numPartitions, hashPartition(key, numPartitions))
}
