package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Seeded input generator: a clustered unit-norm corpus, a query set
  * drawn from the same mixture, and a mutation stream. Everything the
  * program receives comes from here, so one seed gives one input. The
  * mixture itself (its cluster centers) is fixed; the seed draws the
  * points from it, so runs on different seeds sample one distribution
  * and their figures estimate the same quantities.
  *
  * The mixture has many more latent clusters than the store has lists
  * (`clusters` ≫ nlist): a corpus with few clusters leaves most inverted
  * lists empty and trips the layout-collapse detector in `maintain()`,
  * which then runs a full retrain inside the measured phase.
  */
final class Gen(seed: Long, val dim: Int, clusters: Int) {
  private val rnd = new SplittableRandom(seed)

  private val centers: Array[Array[Float]] = {
    val r = new SplittableRandom(Gen.MixtureSeed)
    Array.fill(clusters)(normalize(Array.fill(dim)(gauss(r))))
  }

  private def gauss(r: SplittableRandom = rnd): Float = {
    // Box-Muller over the seeded stream (SplittableRandom has no gaussian)
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    (math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)).toFloat
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val inv = (1.0 / math.sqrt(math.max(s, 1e-30))).toFloat
    i = 0
    while (i < v.length) { v(i) *= inv; i += 1 }
    v
  }

  /** One point of the mixture: a random center plus isotropic noise. */
  def point(): Array[Float] = {
    val c = centers(rnd.nextInt(clusters))
    normalize(Array.tabulate(dim)(j => c(j) + (Gen.Noise * gauss()).toFloat))
  }

  def nextInt(bound: Int): Int = rnd.nextInt(bound)
}

object Gen {
  private val MixtureSeed = 0x5eedL
  /** Per-coordinate noise around a center, before normalizing. */
  private val Noise = 0.045

  /** The engine's id hash (seed-0 xxhash64 of the id's UTF-8 bytes), so
    * the benchmark can check returned `id_hash` values against its ids.
    */
  def idHash(id: String): Long = {
    val b = id.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 0L)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Exact inner-product top-k id hashes of `q` over `live`. */
  def exactTopK(q: Array[Float], live: collection.Map[Long, Array[Float]],
      k: Int): Set[Long] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (x: (Double, Long), y: (Double, Long)) => java.lang.Double.compare(x._1, y._1))
    live.foreach { case (h, v) =>
      val s = dot(q, v)
      if (heap.size < k) heap.add((s, h))
      else if (s > heap.peek()._1) { heap.poll(); heap.add((s, h)) }
    }
    val out = Set.newBuilder[Long]
    heap.forEach(e => out += e._2)
    out.result()
  }
}
