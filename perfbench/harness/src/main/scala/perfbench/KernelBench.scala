package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Kernels

/** Single-threaded ns/row of the native kernels the chains call, over rows
  * drawn from the workload's own input: `texts.txt` holds one document per
  * line, `vectors.txt` one embedding per line (`vec_id v1 … vN`). */
object KernelBench {
  private val WarmupPasses = 3
  private val TimedPasses = 7
  private val Centroids = 40 // p21_lloyds' cluster count at sf0.1
  private val Members = 50   // one knn probe bucket
  private val ShingleN = 3   // Dedup's word-shingle width

  def run(dir: String): Seq[(String, Double)] = {
    val texts = lines(dir, "texts.txt").map(UTF8String.fromString)
    val vecs = lines(dir, "vectors.txt").map { l =>
      val f = l.split(' ')
      (f(0).toLong, f.tail.map(_.toFloat))
    }
    val floatArrays: Array[ArrayData] = vecs.map(v => new GenericArrayData(v._2.map(x => x: Any)))
    val shingles = texts.map(Kernels.wordShingles(_, ShingleN))
    val cents = new GenericArrayData(vecs.take(Centroids).map { case (id, v) =>
      new GenericInternalRow(Array[Any](id, new GenericArrayData(v.map(_.toDouble: Any)))): Any
    })
    val members = new GenericArrayData(vecs.take(Members).map { case (id, v) =>
      new GenericInternalRow(Array[Any](id, new GenericArrayData(v.map(x => x: Any)))): Any
    })
    Seq(
      "simHash32" -> nsPerRow(texts.length)(i => Kernels.simHash32(texts(i))),
      "wordShingles" -> nsPerRow(texts.length)(i =>
        Kernels.wordShingles(texts(i), ShingleN)),
      "minHashSigs" -> nsPerRow(texts.length)(i =>
        Kernels.minHashSigs(shingles(i), graft.operators.Dedup.K, graft.operators.Dedup.P)),
      "rewardStats" -> nsPerRow(texts.length)(i => Kernels.rewardStats(texts(i))),
      "wordTokens" -> nsPerRow(texts.length)(i => Kernels.wordTokens(texts(i))),
      "argminL2" -> nsPerRow(vecs.length)(i =>
        Kernels.argminL2(floatArrays(i), cents, true, false)),
      "knnTopK" -> nsPerRow(vecs.length)(i =>
        Kernels.knnTopK(floatArrays(i), vecs(i)._1, members, graft.operators.Similarity.TopK,
          true, true)),
    ).map { case (k, v) => s"functions.ns_per_row.$k" -> v }
  }

  private def lines(dir: String, name: String): Array[String] =
    Files.readAllLines(Paths.get(dir, name)).asScala.toArray

  private var sink = 0L // keeps each kernel's result live

  /** Median over timed passes of one pass's ns per row, after warm-up. */
  private def nsPerRow(rows: Int)(kernel: Int => Any): Double = {
    def pass(): Double = {
      val t = System.nanoTime()
      var i = 0
      while (i < rows) {
        if (kernel(i) != null) sink += 1
        i += 1
      }
      (System.nanoTime() - t).toDouble / rows
    }
    (1 to WarmupPasses).foreach(_ => pass())
    val times = (1 to TimedPasses).map(_ => pass()).sorted
    times(times.size / 2)
  }
}
