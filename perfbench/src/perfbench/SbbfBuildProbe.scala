package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Sbbf
import graft.functions.{abloom_key_hash, bloom_contains}
import graft.job.{BloomBuild, PartitionSketcher, SketchBuild}
import Workload._

/** The north-rule path: a checkpointed SBBF build over `sha2(content, 256)`
  * keys of generated source-file rows, alternating with a broadcast probe
  * of the same filter. Build is the write, probe the read, so an insert
  * gain that costs lookups shows in the cycle time.
  */
final class SbbfBuildProbe(seed: Long) extends Workload {
  val nKeys = 1000000L
  val nMembers = 250000L
  // The filter is sized for an FPR of exactly 0.01 at capacity; over 1M
  // non-members the 1.05 x 0.01 limit is five standard deviations above it.
  val nNonMembers = 1000000L
  val fpRate = 0.01

  override def warmupOps = 3
  def opSamples = "cycle"
  def itemsSamples = "build"
  def items: Long = nKeys
  def named: Seq[Named] = Seq(
    Named("build_keys_s", "rate", "build", nKeys, "keys/s"),
    Named("build_tail_ms", "tail", "build", 0, "ms"),
    Named("probe_keys_s", "rate", "probe", nMembers + nNonMembers, "keys/s"),
    Named("probe_tail_ms", "tail", "probe", 0, "ms"))
  def sizes: Seq[(String, Any)] = Seq(
    "keys" -> nKeys, "probe_members" -> nMembers, "probe_non_members" -> nNonMembers,
    "fp_rate" -> fpRate, "filter_bytes" -> reference.length)

  private var keys: DataFrame = _
  private var probeSet: DataFrame = _
  private var reference: Array[Byte] = _
  private var hashes: Array[Long] = _
  private var builds = 0
  private var lastCheckpoint: File = _

  private val Tokens = Seq("def", "val", "class", "object", "import", "return", "if", "else",
    "while", "for", "match", "case", "new", "extends", "private", "override", "impl", "struct",
    "fn", "let", "mut", "async", "buffer", "index", "offset", "partition", "shuffle", "merge",
    "hash", "filter", "sketch", "block", "word", "probe", "salt", "seed")

  /** Synth-shaped `source_files` content for file id `id`: a path line
    * that names the id (so contents are distinct) and three token lines,
    * each ending in a hex hash like Synth's lines do. */
  private def content(id: Column): Column = {
    val toks = array(Tokens.map(lit): _*)
    def tok(line: Int, j: Int) =
      element_at(toks, (pmod(hashCol(seed, id, lit(line * 8 + j)), lit(Tokens.size.toLong)) + 1)
        .cast("int"))
    def line(l: Int) = concat_ws(" ", tok(l, 0), tok(l, 1), tok(l, 2), tok(l, 3),
      hex(hashCol(seed, id, lit(l))))
    concat_ws("\n",
      concat(lit("org/repo"), (id / 1000).cast("long").cast("string"), lit("/src/File"),
        id.cast("string"), lit(".scala")),
      line(1), line(2), line(3))
  }

  private def keysFor(ids: org.apache.spark.sql.Dataset[_]): DataFrame =
    ids.select(sha2(content(col("id")), 256).as("key"))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = (mix(seed) >>> 20) & ((1L << 40) - 1)
    val stride = nKeys / nMembers
    keysFor(spark.range(base, base + nKeys, 1, ctx.threads)).write
      .parquet(new File(ctx.dir, "keys").getPath)
    val members = spark.range(0, nMembers, 1, ctx.threads)
      .select((lit(base) + col("id") * stride).as("id"))
    val nonMembers = spark.range(base + nKeys, base + nKeys + nNonMembers, 1, ctx.threads)
    keysFor(members).withColumn("member", lit(true))
      .unionByName(keysFor(nonMembers).withColumn("member", lit(false)))
      .write.parquet(new File(ctx.dir, "probe").getPath)
    // Held in Spark's memory cache, so every op reads the same in-memory
    // batches. Read from parquet each op, the cycle time followed the host's
    // page-cache and I/O contention (0.2 of the median from run to run, 0.03
    // cached), and the live heap peak depended on whether a full collection
    // fell mid-scan, while the reader held a 16-20 MB row group per task.
    keys = spark.read.parquet(new File(ctx.dir, "keys").getPath).cache()
    probeSet = spark.read.parquet(new File(ctx.dir, "probe").getPath).cache()
    keys.count()
    probeSet.count()

    // reference: one single-thread filter from the same key hashes
    import spark.implicits._
    hashes = keys.select(abloom_key_hash(col("key"))).as[Long].collect()
    val f = Sbbf.empty(nKeys, fpRate)
    hashes.foreach(f.insertHash)
    reference = f.toBytes
  }

  def digest(ctx: Ctx): String = digestOf(keys) + "/" + digestOf(probeSet)

  def op(ctx: Ctx, rec: Recorder): Unit = rec.timed("cycle") {
    val bytes = rec.timed("build")(ctx.trace.span("job", "BloomBuild.partitioned") {
      build(ctx)
    })
    Check(java.util.Arrays.equals(bytes, reference),
      s"build ${builds}: filter bytes differ from the single-thread Sbbf over the same hashes")
    val (passed, members) = rec.timed("probe")(ctx.trace.span("expr", "bloom_contains") {
      probe(ctx, bytes)
    })
    Check(members == nMembers,
      s"false negatives: ${nMembers - members} of $nMembers members not found")
    val fpr = (passed - members).toDouble / nNonMembers
    Check(fpr <= 1.05 * fpRate, f"empirical FPR $fpr%.5f over $nNonMembers non-members exceeds 1.05 x $fpRate")
  }

  private def build(ctx: Ctx): Array[Byte] = {
    builds += 1
    lastCheckpoint = new File(ctx.dir, s"checkpoint-$builds")
    BloomBuild.partitioned(keys, col("key"), nKeys, fpRate, lastCheckpoint.getPath)
  }

  private def probe(ctx: Ctx, bytes: Array[Byte]): (Long, Long) = {
    val bc = ctx.spark.sparkContext.broadcast(bytes)
    try {
      val r = probeSet.filter(bloom_contains(bc, col("key")))
        .agg(count(lit(1)), count_if(col("member"))).head()
      (r.getLong(0), r.getLong(1))
    } finally bc.destroy()
  }

  override def between(ctx: Ctx): Unit = {
    // keep only the newest checkpoint: the traced run reads its lineage
    val stale = new File(ctx.dir, s"checkpoint-${builds - 1}")
    if (stale.exists) deleteRecursively(stale)
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val spark = ctx.spark
    import spark.implicits._
    val probeHashes = probeSet.select(abloom_key_hash(col("key"))).as[Long].collect()
    var filter: Sbbf = null
    val insertMs = layerMs(ctx, "core", "Sbbf.insertHash") {
      filter = Sbbf.empty(nKeys, fpRate)
      var i = 0
      while (i < hashes.length) { filter.insertHash(hashes(i)); i += 1 }
    }
    var hits = 0L
    val lookupMs = layerMs(ctx, "core", "Sbbf.checkHash") {
      hits = 0L
      var i = 0
      while (i < probeHashes.length) { if (filter.checkHash(probeHashes(i))) hits += 1; i += 1 }
    }
    Check(hits >= nMembers, s"core lookup found $hits of at least $nMembers")
    var bytes: Array[Byte] = null
    val toBytesMs = layerMs(ctx, "core", "Sbbf.toBytes") { bytes = filter.toBytes }
    val fromBytesMs = layerMs(ctx, "core", "Sbbf.fromBytes") { Sbbf.fromBytes(bytes) }

    val scanMs = layerMs(ctx, "expr", "scan") { keys.agg(count(col("key"))).head() }
    val hashMs = layerMs(ctx, "expr", "abloom_key_hash") {
      keys.agg(bit_xor(abloom_key_hash(col("key")))).head()
    }
    val probeScanMs = layerMs(ctx, "expr", "scan") { probeSet.agg(count(col("key"))).head() }
    val bc = spark.sparkContext.broadcast(reference)
    val containsMs = try layerMs(ctx, "expr", "bloom_contains") {
      probeSet.agg(count_if(bloom_contains(bc, col("key")))).head()
    } finally bc.destroy()

    val lineage = ctx.trace.span("job", "SketchBuild.lineage") {
      SketchBuild.lineage(spark, lastCheckpoint.getPath)
        .select(col("build_ms").cast("double")).as[Double].collect().toSeq
    }
    val mergeMs = layerMs(ctx, "job", "SketchBuild.merge") {
      val merged = SketchBuild.merge(spark, PartitionSketcher.bloom(nKeys, fpRate),
        lastCheckpoint.getPath)
      Check(java.util.Arrays.equals(merged, reference), "re-merged checkpoint differs from reference")
    }
    val p50 = med(lineage)
    val nProbe = (nMembers + nNonMembers).toDouble
    Seq(
      "core.sbbf_insert_ns_per_key" -> insertMs * 1e6 / nKeys,
      "core.sbbf_lookup_ns_per_key" -> lookupMs * 1e6 / nProbe,
      "core.sbbf_to_bytes_ms" -> toBytesMs,
      "core.sbbf_from_bytes_ms" -> fromBytesMs,
      "core.filter_bits_per_key" -> filter.bitCount.toDouble / nKeys,
      "expr.scan_ns_per_row" -> scanMs * 1e6 / nKeys,
      "expr.key_hash_ns_per_row" -> (hashMs - scanMs) * 1e6 / nKeys,
      "expr.bloom_contains_ns_per_row" -> (containsMs - probeScanMs) * 1e6 / nProbe,
      "job.partition_build_ms_p50" -> p50,
      "job.partition_skew" -> lineage.max / math.max(p50, 1.0),
      "job.merge_ms" -> mergeMs,
      "job.checkpoint_bytes_per_key" -> dirBytes(lastCheckpoint).toDouble / nKeys)
  }
}
