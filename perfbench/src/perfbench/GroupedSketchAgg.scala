package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{CountMinBuffer, Hashing, Hll, HllBuffer, Kll, Sbbf}
import graft.plans.SketchPartialAggExec
import Workload._

/** Many small sketches: one SQL GROUP BY over a Zipf-skewed LONG group key
  * computing four sketch families (the long-key fast path), then a rollup
  * of those sketches through the matching union aggregates to a STRING
  * bucket (the generic map path). Far past ObjectHashAggregate's 128-group
  * fallback, so graft's own partial/final aggregation is in charge, and
  * serialization, shuffle and merge of partials outweigh inserts.
  */
final class GroupedSketchAgg(seed: Long) extends Workload {
  val nRows = 200000L
  val nGroups = 20000L
  val nKeys: Long = nRows / 8
  val buckets = 64
  val cmsEps = 0.01
  val cmsDelta = 0.01

  override def warmupOps = 5
  def opSamples = "agg"
  def itemsSamples = "agg"
  def items: Long = nRows
  def named: Seq[Named] = Seq(
    Named("agg_p50_ms", "p50", "agg", 0, "ms"),
    Named("agg_tail_ms", "tail", "agg", 0, "ms"))
  def sizes: Seq[(String, Any)] = Seq(
    "rows" -> nRows, "group_domain" -> nGroups, "groups" -> groups, "key_domain" -> nKeys,
    "buckets" -> buckets, "cms_eps" -> cmsEps, "cms_delta" -> cmsDelta)

  private val bucketExpr = s"concat('b', CAST(pmod(g, $buckets) AS STRING))"
  private val q1 =
    s"SELECT g, bloom_agg(k, 64, 0.01) AS b, hll_agg(k) AS h, " +
      s"cms_agg(k, $cmsEps, $cmsDelta) AS c, kll_agg(v) AS q FROM agg_rows GROUP BY g"
  private val q2 =
    s"SELECT $bucketExpr AS bkt, bloom_union_agg(b) AS b, hll_union_agg(h) AS h, " +
      s"cms_union_agg(c) AS c, kll_union_agg(q) AS q FROM ($q1) GROUP BY 1"
  private val direct =
    s"SELECT $bucketExpr AS bkt, bloom_agg(k, 64, 0.01) AS b, hll_agg(k) AS h, " +
      s"cms_agg(k, $cmsEps, $cmsDelta) AS c, kll_agg(v) AS q FROM agg_rows GROUP BY 1"

  private var rows: DataFrame = _
  private var groups = 0L
  private var reference: Map[String, Row] = Map.empty
  private var exactDistinct: Map[String, Long] = Map.empty
  private var sampledCounts: Seq[(String, Long, Long)] = Nil
  private val planned = ArrayBuffer.empty[Double]
  private val partialRows = ArrayBuffer.empty[Double]
  private val flushes = ArrayBuffer.empty[Double]

  override def resetStats(): Unit = Seq(planned, partialRows, flushes).foreach(_.clear())

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val id = col("id")
    // u in [0, 1): log-uniform g, i.e. P(g) ~ 1/(g+1), a Zipf(1) over nGroups
    val u = pmod(hashCol(seed, id, lit("g")), lit(1L << 53)).cast("double") / (1L << 53).toDouble
    spark.range(0, nRows, 1, ctx.threads).select(
      (floor(exp(u * math.log(nGroups + 1.0))) - 1).cast("long").as("g"),
      pmod(hashCol(seed, id, lit("k")), lit(nKeys)).as("k"),
      (pmod(hashCol(seed, id, lit("v")), lit(1000000L)).cast("double") / 1000.0).as("v"))
      .write.parquet(new File(ctx.dir, "rows").getPath)
    rows = spark.read.parquet(new File(ctx.dir, "rows").getPath)
    rows.createOrReplaceTempView("agg_rows")

    groups = rows.select(countDistinct(col("g"))).head().getLong(0)
    reference = spark.sql(direct).collect().map(r => r.getString(0) -> r).toMap
    exactDistinct = spark.sql(s"SELECT $bucketExpr, count(DISTINCT k) FROM agg_rows GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sampledCounts = spark.sql(
      s"SELECT $bucketExpr, k, count(*) FROM agg_rows " +
        s"WHERE pmod(xxhash64(${seed}L, k), 1024) = 0 GROUP BY 1, 2")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
  }

  def digest(ctx: Ctx): String = digestOf(rows)

  /** One SQL statement runs both aggregations: the GROUP BY g of [[q1]]
    * as the subquery of the bucket rollup [[q2]]. */
  def op(ctx: Ctx, rec: Recorder): Unit = {
    val df = ctx.spark.sql(q2)
    val out = rec.timed("agg")(ctx.trace.span("plans", "group_by_g_then_rollup") { df.collect() })
    readMetrics(df.queryExecution.executedPlan)
    check(out)
  }

  override def finalCheck(ctx: Ctx): Unit = {
    val n = ctx.spark.sql(q1).queryExecution.toRdd.count()
    Check(n == groups, s"GROUP BY g returned $n rows, expected $groups groups")
  }

  private def partials(p: SparkPlan): Seq[SketchPartialAggExec] = p match {
    case a: AdaptiveSparkPlanExec => partials(a.executedPlan)
    case s: QueryStageExec => partials(s.plan)
    case x: SketchPartialAggExec => x +: x.children.flatMap(partials)
    case other => other.children.flatMap(partials)
  }

  /** SketchPartialAggExec's SQLMetrics: both aggregations planned by graft,
    * flushes of either partial map, and partial rows the GROUP BY g side
    * emitted (1 per group means no fragmentation across partitions). */
  private def readMetrics(plan: SparkPlan): Unit = {
    val ps = partials(plan)
    val byG = ps.filter(_.groupingExpressions.map(_.dataType) == Seq(LongType))
    planned += (if (ps.size == 2 && byG.size == 1) 1.0 else 0.0)
    partialRows += byG.map(_.metrics("numOutputRows").value).sum.toDouble
    flushes += ps.map(_.metrics("numFlushes").value).sum.toDouble
  }

  /** Rollup vs the direct aggregate at the bucket key: Bloom, HLL and CMS
    * bytes equal (OR, max and sum merges are exact); KLL counts equal and
    * medians within the two sketches' summed rank error. */
  private def check(out: Array[Row]): Unit = {
    Check(out.length == reference.size, s"rollup has ${out.length} buckets, expected ${reference.size}")
    val byBucket = out.map(r => r.getString(0) -> r).toMap
    reference.foreach { case (bkt, ref) =>
      val got = byBucket.getOrElse(bkt, throw new CheckFailed(s"rollup is missing bucket $bkt"))
      Seq(1 -> "bloom", 2 -> "hll", 3 -> "cms").foreach { case (i, fam) =>
        Check(java.util.Arrays.equals(got.getAs[Array[Byte]](i), ref.getAs[Array[Byte]](i)),
          s"$fam rollup of bucket $bkt differs from the direct aggregate")
      }
      val kr = Kll.fromBytes(got.getAs[Array[Byte]](4))
      val kd = Kll.fromBytes(ref.getAs[Array[Byte]](4))
      Check(kr.count == kd.count, s"kll rollup of $bkt counts ${kr.count}, direct ${kd.count}")
      val m = kd.quantile(0.5)
      Check(math.abs(kr.rank(m) - kd.rank(m)) <= kr.epsilon + kd.epsilon,
        s"kll rollup of $bkt ranks the median at ${kr.rank(m)}, direct at ${kd.rank(m)}")
      // 5 standard errors: a false alarm has probability below 1e-6 per bucket
      val est = HllBuffer.fromBytes(got.getAs[Array[Byte]](2)).estimate.toDouble
      val exact = exactDistinct(bkt).toDouble
      val rse = Hll.empty().relativeError
      Check(math.abs(est - exact) <= 5 * rse * exact,
        f"hll estimate $est%.0f of bucket $bkt is outside 5 x RSE of the exact $exact%.0f")
    }
    val cms = scala.collection.mutable.Map.empty[String, CountMinBuffer]
    sampledCounts.foreach { case (bkt, k, exact) =>
      val c = cms.getOrElseUpdate(bkt, CountMinBuffer.fromBytes(byBucket(bkt).getAs[Array[Byte]](3)))
      val est = c.queryHash(Hashing.hashLong(k))
      Check(est >= exact, s"cms under-counts key $k in $bkt: $est < $exact")
    }
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val sample = ctx.trace.span("plans", "sample_partials") {
      ctx.spark.sql(q1).filter(pmod(col("g"), lit(16)) === 0).collect()
    }
    def family(name: String, i: Int, fold: Seq[Array[Byte]] => Unit): Seq[(String, Double)] = {
      val parts = sample.map(_.getAs[Array[Byte]](i)).toSeq
      val msTotal = layerMs(ctx, "core", s"merge.$name") { fold(parts) }
      Seq(s"core.merge_us.$name" -> msTotal * 1000 / parts.size,
        s"core.partial_bytes.$name" -> parts.map(_.length.toDouble).sum / parts.size)
    }
    // fold every sampled partial into one accumulator: fromBytes + merge,
    // then toBytes of the result
    val core =
      family("bloom", 1, ps => ps.map(Sbbf.fromBytes).reduce(_.orInPlace(_)).toBytes) ++
        family("hll", 2, ps => ps.map(HllBuffer.fromBytes).reduce(_.mergeIn(_)).toBytes) ++
        family("cms", 3, ps => ps.map(CountMinBuffer.fromBytes).reduce(_.mergeIn(_)).toBytes) ++
        family("kll", 4, ps => ps.map(Kll.fromBytes).reduce(_.merge(_)).toBytes)
    // text_dedup and stream_windowed are not in the benchmark's timed set
    // (a comparison's 3420-second budget fits two workloads); their layer probes run
    // here, so the ops and streaming layers are measured by every traced run
    val hosted = Seq(new TextDedup(seed), new StreamWindowed(seed)).zipWithIndex
      .flatMap { case (w, i) => w.hostedLayers(ctx.copy(dir = new File(ctx.dir, s"hosted-$i"))) }
    core ++ Seq(
      "plans.sketch_agg_planned" -> planned.min,
      "plans.partial_flushes" -> med(flushes.toSeq),
      "plans.partial_rows_per_group" -> med(partialRows.toSeq) / groups) ++ hosted
  }
}
