package emdbench

import scala.collection.parallel.CollectionConverters._
import graft.core.{Emd, HistOps}

/** A pair set sorted by key ((rid << 32) | sid, rid < sid). */
final class Pairs(val keys: Array[Long], val dists: Array[Double]) {
  def size: Int = keys.length
  def within(r: Double): Pairs = {
    val keep = dists.indices.filter(dists(_) <= r).toArray
    new Pairs(keep.map(keys), keep.map(dists))
  }
  /** Pairs with both ends (`both`) or at least one end in `ids`. */
  def restrictTo(ids: Long => Boolean, both: Boolean = true): Pairs = {
    val keep = keys.indices.filter { i =>
      val (r, s) = (ids(Pairs.rid(keys(i))), ids(Pairs.sid(keys(i))))
      if (both) r && s else r || s
    }.toArray
    new Pairs(keep.map(keys), keep.map(dists))
  }
}

object Pairs {
  def key(rid: Long, sid: Long): Long = (rid << 32) | sid
  def rid(key: Long): Long = key >>> 32
  def sid(key: Long): Long = key & 0xffffffffL

  /** Sort by key with one primitive sort: ids < 2^20 and < 2^23 pairs
    * leave room to pack (rid, sid, position) into one positive long. */
  def sorted(keys: Array[Long], dists: Array[Double]): Pairs = {
    require(keys.length < (1 << 23), s"${keys.length} pairs exceed the packed sort")
    val packed = Array.tabulate(keys.length) { i =>
      val (r, s) = (rid(keys(i)), sid(keys(i)))
      require(r < (1L << 20) && s < (1L << 20), s"pair ($r, $s) ids exceed 2^20")
      (((r << 20) | s) << 23) | i
    }
    java.util.Arrays.sort(packed)
    val pos = packed.map(p => (p & ((1L << 23) - 1)).toInt)
    new Pairs(pos.map(keys), pos.map(dists))
  }
}

/** The benchmark's own answer key: every pair within a cap, by brute
  * force in the benchmark JVM, independent of the engines under test.
  *
  * Distances follow the engines' canonical form — lower id first,
  * normalized weights — through `Emd.exact` in 3-D and the closed-form
  * 1-D EMD (sum of |CDF differences| on unit-spaced bins) in 1-D. The
  * only prune is the centroid (Rubner) distance, a lower bound of the
  * L2-ground EMD for equal-mass histograms; `unprunedSample` re-checks
  * it against the full scan of a seeded record sample. */
object Reference {

  def distance(c: Corpus, i: Int, j: Int): Double = {
    val (a, b) = if (i < j) (c.normed(i), c.normed(j)) else (c.normed(j), c.normed(i))
    if (c.shape.dimension == 1) emd1d(a, b) else Emd.exact(a, b, c.shape.cost)
  }

  def emd1d(a: Array[Double], b: Array[Double]): Double = {
    var run = 0.0; var total = 0.0; var i = 0
    while (i < a.length - 1) { run += a(i) - b(i); total += math.abs(run); i += 1 }
    total
  }

  private def centroids(c: Corpus): Array[Array[Double]] =
    c.normed.map(w => HistOps.rubnerValue(w, c.shape.dimension, c.shape.bins))

  /** All pairs with distance <= cap. Parallel over records (common
    * fork-join pool); the result is sorted, so it is deterministic. */
  def within(c: Corpus, cap: Double): Pairs = {
    val cent = centroids(c)
    val order = c.weights.indices.sortBy(i => (cent(i)(0), i)).toArray
    val slack = 1e-9
    val parts = new Array[(Array[Long], Array[Double])](c.n)
    java.util.stream.IntStream.range(0, c.n).parallel().forEach { p =>
      val i = order(p)
      val ks = Array.newBuilder[Long]; val ds = Array.newBuilder[Double]
      var q = p + 1
      while (q < c.n && cent(order(q))(0) - cent(i)(0) <= cap + slack) {
        val j = order(q)
        var s = 0.0; var d = 0
        while (d < cent(i).length) { val t = cent(i)(d) - cent(j)(d); s += t * t; d += 1 }
        if (math.sqrt(s) <= cap + slack) {
          val dist = distance(c, i, j)
          if (dist <= cap) { ks += Pairs.key(math.min(i, j), math.max(i, j)); ds += dist }
        }
        q += 1
      }
      parts(p) = (ks.result(), ds.result())
    }
    Pairs.sorted(parts.flatMap(_._1), parts.flatMap(_._2))
  }

  /** Full-scan check of `ref` (the pairs within `r`) for a seeded sample
    * of records: every pair of a sampled record within `r` is in `ref`
    * with the same distance, and nothing else is. */
  def unprunedSample(c: Corpus, ref: Pairs, r: Double, seed: Long,
                     records: Int): Option[String] = {
    val rnd = new java.util.Random(seed ^ 0x5eed5eedL)
    val sample = Array.fill(records)(rnd.nextInt(c.n)).distinct
    val inSample = sample.toSet
    val found = sample.par.map { i =>
      (0 until c.n).filter(j => j != i && !(inSample(j) && j < i)).map(j => (i, j, distance(c, i, j)))
        .filter(_._3 <= r)
    }.seq.flatten
    val expected = Pairs.sorted(found.map { case (i, j, _) => Pairs.key(math.min(i, j), math.max(i, j)) }.toArray,
      found.map(_._3).toArray)
    Check.samePairs("unpruned sample", ref.restrictTo(id => inSample(id.toInt), both = false), expected)
  }

  /** Seeded sample of pair distances, for a first guess at a quantile. */
  def sampleDistances(c: Corpus, pairs: Int, seed: Long): Array[Double] = {
    val rnd = new java.util.Random(seed ^ 0x7a11L)
    val ij = Array.fill(pairs) {
      val i = rnd.nextInt(c.n); var j = rnd.nextInt(c.n)
      while (j == i) j = rnd.nextInt(c.n)
      (i, j)
    }
    val out = new Array[Double](pairs)
    java.util.stream.IntStream.range(0, pairs).parallel()
      .forEach(p => out(p) = distance(c, ij(p)._1, ij(p)._2))
    java.util.Arrays.sort(out)
    out
  }

  /** Radius admitting about `fraction` of all pairs, moved up to the
    * middle of the first gap of at least `MinGap` between reachable
    * distances, so every pair distance is >= MinGap / 2 away from it (a
    * radius equal to a reachable distance makes membership an FP
    * coin-flip — weights are count ratios, so such ties are common).
    * Returns the radius and the pairs within it. */
  val MinGap = 3e-6

  def radii(c: Corpus, fractions: Seq[Double], seed: Long): (Seq[Double], Pairs) = {
    val total = c.n.toLong * (c.n - 1) / 2
    val sample = sampleDistances(c, 5000, seed)
    val guess = sample(math.min(sample.length - 1,
      (fractions.max * sample.length).toInt))
    var cap = guess * 1.3 + 1e-4
    while (true) {
      val all = within(c, cap)
      val sorted = all.dists.sorted
      val picked = fractions.map(f => pick(sorted, math.max(1L, (f * total).round)))
      if (picked.forall(_.isDefined)) {
        val rs = picked.map(_.get)
        return (rs, all.within(rs.max))
      }
      cap *= 1.5
    }
    throw new IllegalStateException("unreachable")
  }

  private def pick(sorted: Array[Double], target: Long): Option[Double] = {
    var j = math.max(0L, target - 1).toInt
    while (j + 1 < sorted.length) {
      if (sorted(j + 1) - sorted(j) >= MinGap) {
        val r = math.round((sorted(j) + sorted(j + 1)) / 2 * 1e9) / 1e9
        return Some(r)
      }
      j += 1
    }
    None
  }
}
