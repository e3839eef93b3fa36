package emdbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output checks. Each returns None when the output is right, else a
  * short description of the first differences. */
object Check {

  /** Engines may differ from the answer key only in the last bits of a
    * distance (summation order, re-normalization). */
  val DistTolerance = 1e-9

  /** Collect a (rid, sid, dist) result into a pair set, rejecting
    * unordered or repeated pairs. */
  def collect(df: DataFrame): Either[String, Pairs] = {
    val rows = df.select(col("rid").cast("long"), col("sid").cast("long"),
      col("dist").cast("double")).collect()
    val keys = new Array[Long](rows.length); val dists = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      val (r, s) = (rows(i).getLong(0), rows(i).getLong(1))
      if (r >= s) return Left(s"pair ($r, $s) is not ordered rid < sid")
      keys(i) = Pairs.key(r, s); dists(i) = rows(i).getDouble(2)
      i += 1
    }
    val p = Pairs.sorted(keys, dists)
    val dup = (1 until p.size).find(j => p.keys(j) == p.keys(j - 1))
    dup.map(j => Left(s"pair ${show(p.keys(j))} appears twice")).getOrElse(Right(p))
  }

  def samePairs(label: String, got: Pairs, want: Pairs): Option[String] = {
    if (!java.util.Arrays.equals(got.keys, want.keys)) {
      val gotSet = got.keys.toSet; val wantSet = want.keys.toSet
      val missing = want.keys.filterNot(gotSet).take(3)
      val extra = got.keys.filterNot(wantSet).take(3)
      return Some(s"$label: ${got.size} pairs, expected ${want.size}; missing " +
        missing.map(show).mkString(",") + " extra " + extra.map(show).mkString(","))
    }
    val bad = got.keys.indices.find(i => !(math.abs(got.dists(i) - want.dists(i)) <= DistTolerance))
    bad.map(i => s"$label: pair ${show(got.keys(i))} dist ${got.dists(i)}, expected ${want.dists(i)}")
  }

  /** Top-k pairs of a threshold set, in the engines' order:
    * (round(dist, 6), rid, sid). Valid when the set holds >= k pairs. */
  def topK(ref: Pairs, k: Int): Pairs = {
    require(ref.size >= k, s"the answer key holds ${ref.size} < k = $k pairs")
    val ord = ref.keys.indices.sortBy(i => (round6(ref.dists(i)), ref.keys(i))).take(k)
    Pairs.sorted(ord.map(ref.keys).toArray, ord.map(ref.dists).toArray)
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def show(key: Long): String = s"(${Pairs.rid(key)},${Pairs.sid(key)})"
}
