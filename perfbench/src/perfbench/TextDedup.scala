package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{jaccard_sorted, shingle_hashes}
import graft.ops.Dedup
import Workload._

/** MinHash-LSH near-duplicate removal over a generated token corpus with
  * planted exact and near-duplicate clusters. The work is small; the time
  * goes to Spark planning and per-job overhead across the many small jobs
  * of candidate generation, connected components and the join back.
  */
final class TextDedup(seed: Long) extends Workload {
  val nDocs = 1000
  val dupShare = 0.10
  val threshold = 0.8
  val vocab = 4000

  def opSamples = "dedup"
  def itemsSamples = "dedup"
  def items: Long = nDocs
  def named: Seq[Named] = Seq(
    Named("dedup_p50_ms", "p50", "dedup", 0, "ms"),
    Named("dedup_tail_ms", "tail", "dedup", 0, "ms"))
  def sizes: Seq[(String, Any)] = Seq(
    "docs" -> nDocs, "planted_copies" -> (nDocs - originals), "clusters" -> clusters.size,
    "tokens_per_doc" -> "80-160", "vocabulary" -> vocab, "threshold" -> threshold)

  private var docs: DataFrame = _
  private var originals = 0
  /** Planted clusters: source id first, then its copies. */
  private var clusters: Seq[Seq[Long]] = Nil
  private var singletons: Seq[Long] = Nil

  private def shingles(toks: IndexedSeq[String]): Set[String] =
    toks.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: IndexedSeq[String], b: IndexedSeq[String]): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** The corpus as (id, tokens) and the planted clusters, from the seed. */
  private def generate(): (IndexedSeq[(Long, IndexedSeq[String])], Seq[Seq[Long]], Seq[Long]) = {
    var state = mix(seed ^ 0x7e47L)
    def next(n: Int): Int = { state = mix(state); java.lang.Long.remainderUnsigned(state, n.toLong).toInt }
    val nCopies = (nDocs * dupShare).toInt
    originals = nDocs - nCopies
    val texts = ArrayBuffer.tabulate(originals)(_ =>
      IndexedSeq.fill(80 + next(81))(s"w${next(vocab)}"))
    val groups = ArrayBuffer.empty[ArrayBuffer[Int]]
    var copies = 0
    while (copies < nCopies) {
      val src = groups.size // sources are the first originals; ids are shuffled below
      val g = ArrayBuffer(src)
      val c = math.min(1 + next(3), nCopies - copies)
      (0 until c).foreach { _ =>
        val t = texts(src)
        val copy =
          if (next(2) == 0) t
          else {
            val p = 3 + next(t.size - 6)
            var w = s"w${next(vocab)}"
            while (w == t(p)) w = s"w${next(vocab)}"
            t.updated(p, w)
          }
        require(jaccard(t, copy) >= 0.9, "a planted near-duplicate must have Jaccard >= 0.9")
        g += texts.size
        texts += copy
      }
      copies += c
      groups += g
    }
    // shuffled ids, so clusters are not contiguous in id order
    val ids = Array.tabulate(texts.size)(_.toLong)
    for (i <- ids.indices.reverse) { val j = next(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t }
    val clustered = groups.flatten.toSet
    (texts.indices.map(i => ids(i) -> texts(i)),
      groups.map(_.map(i => ids(i)).toSeq).toSeq,
      (0 until originals).filterNot(clustered).map(i => ids(i)))
  }

  def setup(ctx: Ctx): Unit = {
    val (corpus, cs, singles) = generate()
    clusters = cs
    singletons = singles
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    val rows = corpus.map { case (id, toks) => Row(id, toks.mkString(" ")) }
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.threads), schema)
      .write.parquet(new File(ctx.dir, "docs").getPath)
    docs = ctx.spark.read.parquet(new File(ctx.dir, "docs").getPath)
  }

  def digest(ctx: Ctx): String = digestOf(docs)

  def op(ctx: Ctx, rec: Recorder): Unit = {
    val kept = rec.timed("dedup")(ctx.trace.span("ops", "dedupMinhash") {
      Dedup.dedupMinhash(docs, "text", "id", threshold).count()
    })
    Check(kept == originals, s"dedup kept $kept documents, expected $originals")
  }

  // minhashPairs persists its candidate table for reuse; a long-lived
  // session releases it between corpora
  override def between(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()

  override def finalCheck(ctx: Ctx): Unit = {
    val kept = Dedup.dedupMinhash(docs, "text", "id", threshold)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    ctx.spark.catalog.clearCache()
    clusters.foreach { c =>
      val k = c.count(kept)
      Check(k == 1, s"planted cluster ${c.mkString(",")} kept $k documents, expected 1")
    }
    val dropped = singletons.filterNot(kept)
    Check(dropped.isEmpty, s"${dropped.size} singletons dropped, e.g. ${dropped.take(5).mkString(",")}")
  }

  /** The probes below call the stages of [[op]] themselves. */
  override def hostedLayers(ctx: Ctx): Seq[(String, Double)] = {
    setup(ctx)
    finalCheck(ctx)
    layers(ctx)
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = {
    val spark = ctx.spark
    val pairsMs, clusterMs, joinMs = ArrayBuffer.empty[Double]
    var pairs: DataFrame = null
    (1 to 3).foreach { _ =>
      if (pairs != null) pairs.unpersist(blocking = true)
      spark.catalog.clearCache()
      var t0 = System.nanoTime()
      pairs = ctx.trace.span("ops", "minhashPairs") {
        val p = Dedup.minhashPairs(docs.select(col("id"), col("text")), "text", "id",
          threshold = threshold).persist()
        p.count()
        p
      }
      pairsMs += ms(t0)
      t0 = System.nanoTime()
      val reps = ctx.trace.span("ops", "clusterRepresentatives") {
        Dedup.clusterRepresentatives(pairs.select(col("id_a"), col("id_b")), docs.select(col("id")), "id")
      }
      clusterMs += ms(t0)
      t0 = System.nanoTime()
      val kept = ctx.trace.span("ops", "join_back") {
        docs.join(reps.filter(col("id") === col("representative")).select(col("id")), Seq("id"))
          .count()
      }
      joinMs += ms(t0)
      Check(kept == originals, s"staged dedup kept $kept documents, expected $originals")
    }
    val found = pairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = clusters.flatMap(c => c.tail.map(d => (math.min(c.head, d), math.max(c.head, d))))
    val a = docs.select(col("id").as("id_a"), col("text").as("ta"))
    val b = docs.select(col("id").as("id_b"), col("text").as("tb"))
    val verified = ctx.trace.span("ops", "verify_pairs") {
      pairs.join(a, "id_a").join(b, "id_b")
        .filter(jaccard_sorted(shingle_hashes(col("ta"), 3), shingle_hashes(col("tb"), 3)) >= threshold)
        .count()
    }
    pairs.unpersist(blocking = true)
    spark.catalog.clearCache()
    Seq(
      "ops.minhash_pairs_ms" -> med(pairsMs.toSeq),
      "ops.cluster_ms" -> med(clusterMs.toSeq),
      "ops.join_back_ms" -> med(joinMs.toSeq),
      "ops.pair_recall" -> planted.count(found).toDouble / planted.size,
      "ops.pair_precision" -> (if (found.isEmpty) 0.0 else verified.toDouble / found.size))
  }
}
