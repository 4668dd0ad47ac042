package perfbench

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftKernels
import graft.sources.WebPageGen

/** Scalar-kernel microbenchmark, outside Spark: ns per call of each kernel
  * the pipeline and the dedup operators call per row, on a fixed seeded
  * sample of WebPageGen records. Names are paired base-vs-variant and
  * normalized the way ErPipeline.normalize builds `name_norm` (first and
  * last joined by a space, lower-cased, cut at 50 chars). `levenshtein` is
  * UTF8String.levenshteinDistance, the kernel Spark's `levenshtein` (and so
  * the scores stage) calls.
  */
object Kernels {
  private final case class Sample(
      a: Array[UTF8String], b: Array[UTF8String],
      ea: Array[org.apache.spark.sql.catalyst.util.ArrayData],
      eb: Array[org.apache.spark.sql.catalyst.util.ArrayData],
      text: Array[UTF8String])

  private def sample(seed: Long, entities: Int): Sample = {
    def norm(c: WebPageGen.Contact) =
      UTF8String.fromString(s"${c.first} ${c.last}".toLowerCase.take(50))
    val pairs = for {
      id <- 0 until entities
      v <- 1 until WebPageGen.Variants.size
    } yield {
      val base = WebPageGen.baseContact(seed, id.toLong)
      val (_, _, fn) = WebPageGen.Variants(v)
      (norm(base), norm(fn(base, GraftKernels.mix64(seed ^ (id * 31L + v)))))
    }
    val a = pairs.map(_._1).toArray
    val b = pairs.map(_._2).toArray
    val text = (0 until entities).map(id =>
      UTF8String.fromString(WebPageGen.labeledPage(seed, id.toLong, id % 9).text)).toArray
    Sample(a, b, a.map(GraftKernels.embedF(_, 32)), b.map(GraftKernels.embedF(_, 32)), text)
  }

  /** ns per call: median of `rounds` timed passes over the sample, after
    * warm-up passes that let the JIT compile the kernel.
    */
  private def nsPerCall(n: Int, rounds: Int = 7)(pass: () => Long): Double = {
    var sink = 0L
    var reps = 1
    // size a pass to ~20 ms so timer resolution does not matter
    var t = 0L
    while (t < 20000000L) {
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { sink += pass(); r += 1 }
      t = System.nanoTime() - t0
      if (t < 20000000L) reps *= 2
    }
    (0 until 3).foreach(_ => sink += pass())
    val walls = (0 until rounds).map { _ =>
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { sink += pass(); r += 1 }
      (System.nanoTime() - t0).toDouble / (reps.toLong * n)
    }
    if (sink == 42L) println("") // keep the results live
    Timing.median(walls)
  }

  def measure(seed: Long): Seq[(String, Double)] = {
    val s = sample(seed, 256)
    val n = s.a.length
    val m = s.text.length
    Seq(
      "jaro_winkler" -> nsPerCall(n) { () =>
        var acc = 0L; var i = 0
        while (i < n) { acc += (GraftKernels.jaroWinkler(s.a(i), s.b(i)) * 1000).toLong; i += 1 }
        acc
      },
      "levenshtein" -> nsPerCall(n) { () =>
        var acc = 0L; var i = 0
        while (i < n) { acc += s.a(i).levenshteinDistance(s.b(i)); i += 1 }
        acc
      },
      "cosine" -> nsPerCall(n) { () =>
        var acc = 0L; var i = 0
        while (i < n) { acc += (GraftKernels.cosineF(s.ea(i), s.eb(i)) * 1000).toLong; i += 1 }
        acc
      },
      "embed" -> nsPerCall(n) { () =>
        var acc = 0L; var i = 0
        while (i < n) { acc += GraftKernels.embedF(s.a(i), 32).numElements(); i += 1 }
        acc
      },
      "minhash_sig" -> nsPerCall(m) { () =>
        var acc = 0L; var i = 0
        while (i < m) { acc += GraftKernels.minhashSig(s.text(i), 96, 3).getLong(0); i += 1 }
        acc
      },
      "simhash64" -> nsPerCall(m) { () =>
        var acc = 0L; var i = 0
        while (i < m) { acc += GraftKernels.simhash64(s.text(i)); i += 1 }
        acc
      })
  }
}
