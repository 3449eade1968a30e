package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up (three times, timed), warm up,
  * run the workload's op in a closed loop for the given seconds, check
  * outputs, and write the run record as JSON for `perfbench/run.py`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --threads T --scratch DIR --out FILE
  *        perfbench.Main --digest W --seeds A,B,.. --threads T --scratch DIR
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val threads = opt("threads").toInt
    val scratch = new File(opt("scratch"))
    if (opt.contains("digest")) digests(opt("digest"), opt("seeds").split(",").map(_.toLong),
      threads, scratch)
    else run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      threads, scratch, new File(opt("out")))
    System.exit(0) // no lingering non-daemon thread may keep the JVM alive
  }

  def session(threads: Int, dir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, threads: Int,
      scratch: File, out: File): Unit = {
    val trace = new Trace(traced)
    val heap = new HeapMonitor
    val setupS, registerMs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var ctx: Ctx = null
    // Set-up is repeated so its median is steady: each repetition starts a
    // fresh session, registers, regenerates and restages the inputs and
    // computes the references. The warm-up then runs once, after the last.
    (0 until SetupReps).foreach { rep =>
      if (spark != null) {
        stop(spark)
        Workload.deleteRecursively(ctx.dir)
      }
      val t0 = System.nanoTime()
      val dir = new File(scratch, s"setup-$rep")
      spark = session(threads, dir)
      val r0 = System.nanoTime()
      graft.sql.Registry.register(spark)
      registerMs += Workload.ms(r0)
      wl = Workload(name, seed)
      ctx = Ctx(spark, dir, trace, threads, seed)
      wl.setup(ctx)
      setupS += Workload.ms(t0) / 1000
    }
    val failures = ArrayBuffer.empty[String]
    val w0 = System.nanoTime()
    (1 to wl.warmupOps).foreach { i =>
      try wl.op(ctx, new Recorder) catch { case e: Exception => failures += s"warm-up op $i: $e" }
      wl.between(ctx)
    }
    val warmupS = Workload.ms(w0) / 1000
    wl.resetStats()
    trace.attach(spark)

    val rec = new Recorder
    var attempted = 0
    heap.active = true
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (attempted == 0 || System.nanoTime() < deadline) {
      attempted += 1
      try trace.span("bench", name, unit = wl.opIsUnit)(wl.op(ctx, rec))
      catch { case e: Exception => failures += s"op $attempted: $e" }
      wl.between(ctx)
    }
    heap.fullCollection()
    heap.active = false
    val failedOps = failures.size
    try wl.finalCheck(ctx) catch { case e: Exception => failures += s"final check: $e" }
    val layers =
      try if (traced) wl.layers(ctx) else Nil
      catch { case e: Exception => failures += s"layer probes: $e"; Nil }
    trace.drain()

    val record = ListMap(
      "workload" -> name,
      "seed" -> seed,
      "threads" -> threads,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "sizes" -> ListMap(wl.sizes: _*),
      "digest" -> wl.digest(ctx),
      "setup_s" -> setupS,
      "register_ms" -> registerMs,
      "warmup_s" -> warmupS,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "failures" -> failures,
      "heap_peak_mb" -> heap.peakMb,
      "op_samples" -> wl.opSamples,
      "items_samples" -> wl.itemsSamples,
      "items" -> wl.items,
      "named" -> wl.named.map(n => ListMap("name" -> n.name, "kind" -> n.kind,
        "samples" -> n.samples, "items" -> n.items, "unit" -> n.unit)),
      "samples" -> rec.samples,
      "layers" -> ListMap(layers: _*),
      "trace" -> (if (traced) trace.toJson else Map.empty))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(out, record)
    stop(spark)
  }

  /** Input digests for each seed, one line per seed: the self-test checks
    * that a seed always generates the same inputs and seeds differ. */
  def digests(name: String, seeds: Seq[Long], threads: Int, scratch: File): Unit = {
    val spark = session(threads, scratch)
    graft.sql.Registry.register(spark)
    seeds.zipWithIndex.foreach { case (seed, i) =>
      val ctx = Ctx(spark, new File(scratch, s"digest-$i"), new Trace(false), threads, seed)
      val wl = Workload(name, seed)
      wl.setup(ctx)
      println(s"$name $seed ${wl.digest(ctx)}")
    }
    stop(spark)
  }
}
