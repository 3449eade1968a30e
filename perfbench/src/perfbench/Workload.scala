package perfbench

import java.io.File

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload needs from the run: the session, its own scratch
  * directory (under the run's one scratch root), the tracer and the seed. */
final case class Ctx(spark: SparkSession, dir: File, trace: Trace, threads: Int, seed: Long)

/** Latency samples by kind, in milliseconds, in the order taken. */
final class Recorder {
  val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
  def timed[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    sample(kind, (System.nanoTime() - t0) / 1e6)
    r
  }
}

/** An output check that failed: counted as a failed op, reported as a
  * defect of the program under test. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** A metric the report prints under the name the workload's design uses:
  * `rate` = items / median of the samples (per second), `p50`/`tail` =
  * order statistics of the samples. */
final case class Named(name: String, kind: String, samples: String, items: Long, unit: String)

trait Workload {
  /** Sample series whose median and tail are the run's `op_*` metrics. */
  def opSamples: String
  /** Sample series and item count behind the run's `items_per_s`. */
  def itemsSamples: String
  def items: Long
  def named: Seq[Named]
  def sizes: Seq[(String, Any)]
  /** True when the closed-loop op is itself one unit for the per-op Spark
    * aggregates; false when the workload records its own unit spans. */
  def opIsUnit: Boolean = true
  def warmupOps: Int = 2

  /** Generate every input from the seed, stage it and compute the
    * references the output checks compare against. */
  def setup(ctx: Ctx): Unit
  /** Order-independent digest of the generated inputs. */
  def digest(ctx: Ctx): String
  /** One closed-loop operation, timed into `rec` and checked. */
  def op(ctx: Ctx, rec: Recorder): Unit
  /** Housekeeping between ops, outside any timing. */
  def between(ctx: Ctx): Unit = ()
  /** Forget per-op layer readings taken while warming up. */
  def resetStats(): Unit = ()
  /** Checks too costly for every op, run once after the timed phase. */
  def finalCheck(ctx: Ctx): Unit = ()
  /** Traced run only: direct measurements of the layers this workload
    * exercises, each call inside a span of its layer. */
  def layers(ctx: Ctx): Seq[(String, Double)]

  /** The layer probes of a workload outside the benchmark's timed set, run
    * inside another workload's traced run: set up, warm up, run three ops
    * (their per-op layer readings), the final check, and probe. */
  def hostedLayers(ctx: Ctx): Seq[(String, Double)] = {
    setup(ctx)
    (1 to warmupOps).foreach { _ => op(ctx, new Recorder); between(ctx) }
    resetStats()
    (1 to 3).foreach { _ => op(ctx, new Recorder); between(ctx) }
    finalCheck(ctx)
    layers(ctx)
  }
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "sbbf_build_probe" => new SbbfBuildProbe(seed)
    case "grouped_sketch_agg" => new GroupedSketchAgg(seed)
    case "text_dedup" => new TextDedup(seed)
    case "stream_windowed" => new StreamWindowed(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** splitmix64 finalizer: the seed derivation used for every input. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Digest of a DataFrame's rows that ignores row order and partitioning:
    * row count, XOR and folded sum of a 64-bit hash of every column. */
  def digestOf(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1L << 31)))).head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x:${r.getLong(2)}%x"
  }

  /** Median of a small sample (the layer probes repeat each call). */
  def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body` `reps` times inside a span each and returns the median ms. */
  def layerMs(ctx: Ctx, layer: String, name: String, reps: Int = 3)(body: => Unit): Double =
    med((1 to reps).map { _ =>
      ctx.trace.span(layer, name) {
        val t0 = System.nanoTime()
        body
        ms(t0)
      }
    })

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def hashCol(seed: Long, parts: Column*): Column = xxhash64(lit(seed) +: parts: _*)
}
