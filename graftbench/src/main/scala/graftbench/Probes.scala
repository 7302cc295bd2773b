package graftbench

import graft.{Scratch, Tables}
import graft.ann.KMeansDet
import graft.detectors.{Bocpd, Pelt}
import graft.expressions.{BpeTokenCount, CosineSim, LshBandBuckets, MinhashSignature}
import graft.features.FeatureKernels
import graft.models.Smoothers
import graft.text.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Direct timings of public kernel and expression functions on the
  * workload's own generated data (traced runs only). Inputs are prepared
  * through Spark first, untimed; each probe then calls the pure function
  * on the driver in a loop and reports the median of several repeats.
  * Two layers that no timed query reaches within the run budget, the
  * `Scratch` write path and the Lloyd rounds of `KMeansDet`, are timed
  * here the same way, through their public entry points. */
object Probes {
  private val Repeats = 5
  private val MinRepeatNs = 20L * 1000 * 1000

  /** Results are folded into this field so the JIT cannot drop the calls. */
  @volatile private var blackhole = 0

  /** Median nanoseconds per item of `f` applied to every item. */
  private def perItemNs[A](items: IndexedSeq[A])(f: A => Any): Double = {
    if (items.isEmpty) return 0.0
    val samples = (1 to Repeats).map { _ =>
      val t0 = System.nanoTime()
      var n = 0L
      var h = 0
      while (System.nanoTime() - t0 < MinRepeatNs || n == 0) {
        items.foreach(x => h ^= System.identityHashCode(f(x)))
        n += items.size
      }
      blackhole ^= h
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    samples(samples.size / 2)
  }

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val series: IndexedSeq[Array[Double]] = Tables.hourlyEvents(spark, dir)
      .groupBy("event_type").agg(sort_array(collect_list(struct(col("ts"), col("value")))).as("p"))
      .orderBy("event_type").select(col("p.value")).collect()
      .map(_.getSeq[Double](0).toArray).filter(_.length >= 48).toIndexedSeq
    val docs = Tables.documents(spark, dir).orderBy("doc_id")
      .select(transform(TextFunctions.shingles(col("text")), TextFunctions.hash60(_)).as("h"),
        split(lower(col("text")), " ").as("w"))
      .collect()
    val shingleHashes = docs.map(r => new GenericArrayData(r.getSeq[Long](0).toArray)).toIndexedSeq
    val words = docs.map(r => new GenericArrayData(r.getSeq[String](1).map(UTF8String.fromString).toArray)).toIndexedSeq
    val vecs = Tables.embeddings(spark, dir).orderBy("vec_id").select(col("embedding")).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).toArray)).toIndexedSeq
    val vecType = ArrayType(FloatType, containsNull = true)
    val cosine = CosineSim(BoundReference(0, vecType, nullable = true), BoundReference(1, vecType, nullable = true))
    val pairs = vecs.indices.drop(1).map(i => InternalRow(vecs(i - 1), vecs(i)))
    val bpe = BpeTokenCount(BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true),
      Literal(UTF8String.fromString(merges(words))))
    def us(ns: Double) = ns / 1000.0
    scratchProbe(spark, dir) ++ Map(
      "ann.kmeans_fit_ms" -> kmeansFitMs(spark, dir),
      "kernels.bocpd_us_per_series" -> us(perItemNs(series)(Bocpd.changeProb(_))),
      "kernels.holtwinters_opt_us_per_series" -> us(perItemNs(series)(Smoothers.holtWintersOpt(_, 24))),
      "kernels.pelt_us_per_series" -> us(perItemNs(series)(Pelt.segment(_))),
      "kernels.pacf_us_per_series" -> us(perItemNs(series)(FeatureKernels.pacf(_, 24))),
      "expressions.minhash_ns_per_doc" -> perItemNs(shingleHashes)(MinhashSignature.compute(_, 64)),
      "expressions.lsh_band_ns_per_vec" -> perItemNs(vecs)(LshBandBuckets.compute(_, 8, 4, true)),
      "expressions.cosine_ns_per_pair" -> perItemNs(pairs)(cosine.eval(_)),
      "expressions.bpe_ns_per_doc" -> perItemNs(words)(w => bpe.eval(InternalRow(w))))
  }

  /** `Scratch.materialize` of the workload's documents table (parquet
    * write, then the re-read plan): median milliseconds, and the bytes and
    * records one materialization writes. */
  private def scratchProbe(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = Tables.documents(spark, dir)
    val runs = (1 to Repeats).map { _ =>
      val t0 = System.nanoTime()
      val back = Scratch.materialize(docs, "graftbench_probe")
      val ms = (System.nanoTime() - t0) / 1e6
      val bytes = back.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
      val rows = back.count()
      Scratch.sweep()
      (ms, bytes, rows)
    }.sortBy(_._1)
    val (ms, bytes, rows) = runs(runs.size / 2)
    Map("scratch.materialize_ms" -> ms, "scratch.write_bytes" -> bytes.toDouble,
      "scratch.write_records" -> rows.toDouble)
  }

  /** Median milliseconds of `KMeansDet.fit` (k = 8, three Lloyd rounds, as
    * the suite's k-means queries call it) over the cached embeddings. */
  private def kmeansFitMs(spark: SparkSession, dir: String): Double = {
    val emb = Tables.embeddings(spark, dir).cache()
    emb.count()
    try (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      KMeansDet.fit(emb, k = 8, iters = 3).collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted.apply(1)
    finally emb.unpersist()
  }

  /** A fixed merge cascade learned from the corpus: its 32 most frequent
    * adjacent character pairs (ties broken by the pair), as the
    * tab-separated "a b" list `bpe_token_count` takes. */
  private def merges(words: IndexedSeq[GenericArrayData]): String = {
    val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    words.foreach(_.array.foreach { w =>
      val s = w.toString
      s.sliding(2).filter(_.length == 2).foreach(p => counts(s"${p(0)} ${p(1)}") += 1)
    })
    counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(32).map(_._1).mkString("\t")
  }
}
