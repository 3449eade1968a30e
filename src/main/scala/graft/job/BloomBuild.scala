package graft.job

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Sbbf
import graft.functions.{abloom_key_hash, bloom_agg_hashed, bloom_union_agg}

/** Distributed SBBF build strategies (SURVEY.md §7.5).
  *
  * Three interchangeable physical plans for one logical operator
  * ("global Bloom filter over a key column"), all bit-identical outputs:
  *
  *  1. [[treeAgg]] — declarative two-level aggregation for multi-executor
  *     clusters: per-partition partial filters, an intermediate
  *     `groupBy(partition_id % G)` union level so the final union sees G
  *     filters instead of P (the flat plan's single final task ORing
  *     O(partitions) capacity-sized buffers is the scaling bottleneck),
  *     then one final union. Shuffle volume O(P x filter), critical-path
  *     merge O(P/G + G).
  *
  *  2. [[concurrent]] — per-executor shared filter with lock-free atomic
  *     bit-OR inserts: the reference's `free_threading=True` mode
  *     (`/root/reference/abloom/_abloom.c:137-144`) mapped to Spark's
  *     within-executor parallelism. Insert working set is ONE filter per
  *     node (cache-resident) instead of one per task, and merge fan-in is
  *     O(executors). In this sandbox (single-JVM local[N] = one executor)
  *     that means zero merge; on a real cluster each executor contributes
  *     one filter and [[treeAgg]]-style union combines them.
  *
  *  3. [[partitioned]] / [[resume]] — checkpointed build with
  *     per-partition lineage + metrics, resumable: completed partitions
  *     are skipped on re-run and replays are safe because OR-merge is
  *     idempotent. A fresh build ORs the partition filters on the driver
  *     as each batch's checkpoint append commits, in ascending partition
  *     order through `bloom_union_agg`'s own steps, so its bytes equal the
  *     checkpoint merge's without reading the checkpoint back; a resume
  *     merges the checkpoint ([[SketchBuild.merge]]).
  */
object BloomBuild {

  // ------------------------------------------------------- shared registry

  /** Executor-side registry of in-flight shared filters (single JVM). */
  private val shared = new ConcurrentHashMap[String, Sbbf]()

  /** Strategy 2: concurrent shared-filter build. Requires executors to
    * share the driver JVM (local[N] master); throws otherwise — on a real
    * cluster use [[treeAgg]] (or per-executor sharing + union, which this
    * models at one-node scale).
    */
  def concurrent(df: DataFrame, keyCol: Column, capacity: Long, fpRate: Double): Sbbf = {
    val spark = df.sparkSession
    require(spark.sparkContext.isLocal,
      "concurrent shared-filter build requires a single-JVM (local) master; use treeAgg on a cluster")
    val id = java.util.UUID.randomUUID().toString
    shared.put(id, Sbbf.empty(capacity, fpRate))
    try {
      val hashed = df.select(abloom_key_hash(keyCol).as("h"))
      hashed.queryExecution.toRdd.foreachPartition { it =>
        val f = shared.get(id)
        while (it.hasNext) {
          val row = it.next()
          if (!row.isNullAt(0)) f.insertHashAtomic(row.getLong(0))
        }
      }
      shared.get(id)
    } finally shared.remove(id)
  }

  /** Strategy 1: declarative two-level tree aggregation (cluster-safe).
    *
    * @param groups intermediate union fan-in; default ~sqrt(input
    *               partitions), the depth-2 optimum.
    */
  def treeAgg(
      df: DataFrame,
      keyCol: Column,
      capacity: Long,
      fpRate: Double,
      groups: Int = 0): Array[Byte] = {
    val p = df.rdd.getNumPartitions.max(1)
    val g = if (groups > 0) groups else math.max(1, math.sqrt(p.toDouble).round.toInt)
    df.select(abloom_key_hash(keyCol).as("h"))
      .withColumn("g", spark_partition_id() % g)
      .groupBy(col("g"))
      .agg(bloom_agg_hashed(col("h"), capacity, fpRate).as("f"))
      .agg(bloom_union_agg(col("f")))
      .head().getAs[Array[Byte]](0)
  }

  // --------------------------------------------- checkpointed / resumable

  val checkpointSchema: StructType = StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("filter", BinaryType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("build_ms", LongType, nullable = false),
    StructField("keys_per_sec", DoubleType, nullable = false)))

  /** Checkpointed partitioned build: writes one lineage row per input
    * partition to `checkpointDir` (parquet, appended as each batch of
    * partitions completes), then OR-merges all partition filters into the
    * global filter. `batchSize` bounds how much work is lost on failure.
    */
  def partitioned(
      df: DataFrame,
      keyCol: Column,
      capacity: Long,
      fpRate: Double,
      checkpointDir: String,
      batchSize: Int = 64): Array[Byte] =
    resume(df, keyCol, capacity, fpRate, checkpointDir, batchSize)

  /** Resume (or start) a checkpointed build: read completed partition ids
    * from the checkpoint, build only the missing ones, then merge all.
    * Byte-identical to a single-pass build for any interruption point
    * (OR idempotence + partition determinism). A thin facade over the
    * generalized [[SketchBuild.resume]] (which also guards against
    * resuming over a re-partitioned input).
    */
  def resume(
      df: DataFrame,
      keyCol: Column,
      capacity: Long,
      fpRate: Double,
      checkpointDir: String,
      batchSize: Int = 64): Array[Byte] =
    SketchBuild.resume(
      df, keyCol, PartitionSketcher.bloom(capacity, fpRate), checkpointDir, batchSize)

  /** Per-partition lineage + metrics of a checkpointed build. */
  def lineage(spark: SparkSession, checkpointDir: String): DataFrame =
    SketchBuild.lineage(spark, checkpointDir)
}
