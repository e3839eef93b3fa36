package emdbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Random
import graft.core.{Emd, GroundDist, HistOps}

/** Engine knobs a workload shares across every operation on its corpus. */
final case class Shape(dimension: Int, bins: Array[Double],
                       vectors: Array[Array[Double]], grid: Int, intervals: Int) {
  val numBins: Int = bins.length / dimension
  lazy val cost: Array[Double] = Emd.costMatrix(bins, dimension, GroundDist.L2)
}

/** A generated corpus: record ids are 0..n-1; `weights` are the values
  * written to the histogram file, `normed` the L1-normalized copies the
  * engines work on. */
final case class Corpus(shape: Shape, weights: Array[Array[Double]]) {
  def n: Int = weights.length
  lazy val normed: Array[Array[Double]] = weights.map(HistOps.normalize)
}

/** Seeded corpus generators. Everything here is a pure function of the
  * seed (java.util.Random is specified bit-for-bit), so one seed gives
  * byte-identical input files on any JVM. */
object Gen {

  /** The reference's default operating point (melody-conf.properties):
    * dimension 3, 30 bins, 3 projection vectors, grid granularity 4.
    * Bin locations are jittered strata of a 2x3x5 split of the unit cube,
    * so no two bins coincide and the per-seed geometry stays comparable.
    * Records are clustered: record r is centre r mod 32 of 32 seeded
    * centre histograms with log-normal per-bin noise, so near pairs sit
    * inside equal-sized clusters. The cluster count balances two
    * seed-to-seed swings: MRSimJoin's 16 pivots need several clusters
    * each, and top-k's 64-record sample needs pairs inside a cluster. */
  def cube30(seed: Long, n: Int): Corpus = {
    val rnd = new Random(seed)
    val bins = new Array[Double](30 * 3)
    for (i <- 0 until 30) {
      val cell = Array(i % 2, (i / 2) % 3, i / 6)
      val split = Array(2.0, 3.0, 5.0)
      for (d <- 0 until 3)
        bins(i * 3 + d) = (cell(d) + 0.4 + 0.2 * rnd.nextDouble()) / split(d)
    }
    val shape = Shape(3, bins,
      Array(Array(1.0, 1.0, 1.0), Array(1.0, -1.0, 0.0), Array(1.0, 1.0, -2.0)),
      grid = 4, intervals = 5)
    val centres = Array.fill(32)(Array.fill(30)(math.exp(rnd.nextGaussian())))
    val weights = Array.tabulate(n) { r =>
      val c = centres(r % centres.length)
      HistOps.normalize(Array.tabulate(30)(i => c(i) * math.exp(0.3 * rnd.nextGaussian())))
    }
    Corpus(shape, weights)
  }

  /** 1-D histograms on the integer bins 0..7: each record is the
    * normalized counts of 20-40 uniform draws — the shape of the repo's
    * quantity fixture (~30 lineitems per part, quantities binned 8 ways). */
  def line8(seed: Long, n: Int): Corpus = {
    val rnd = new Random(seed)
    val shape = Shape(1, Array.tabulate(8)(_.toDouble), Array(Array(1.0)),
      grid = 8, intervals = 5)
    val weights = Array.fill(n) {
      val draws = 20 + rnd.nextInt(21)
      val counts = new Array[Int](8)
      for (_ <- 0 until draws) counts(rnd.nextInt(8)) += 1
      counts.map(_.toDouble / draws)
    }
    Corpus(shape, weights)
  }

  /** Reference text formats (README of the reference engine): one
    * "<id> <w0> .. <wn-1>" line per record; one line of bin coordinates;
    * one line of vector coordinates. */
  def writeInputs(dir: Path, c: Corpus): Unit = {
    Files.createDirectories(dir)
    val sb = new java.lang.StringBuilder
    for (i <- 0 until c.n) {
      sb.append(i)
      c.weights(i).foreach(w => sb.append(' ').append(w))
      sb.append('\n')
    }
    write(dir.resolve("hist.txt"), sb.toString)
    write(dir.resolve("bins.txt"), c.shape.bins.mkString(" ") + "\n")
    write(dir.resolve("vectors.txt"), c.shape.vectors.flatten.mkString(" ") + "\n")
  }

  /** Engine properties in the reference's key set, written in a fixed
    * key order (java.util.Properties.store would add a timestamp). */
  def writeProperties(path: Path, kv: Seq[(String, String)]): Unit =
    write(path, kv.map { case (k, v) => s"$k=$v\n" }.mkString)

  def shapeProperties(s: Shape): Seq[(String, String)] = Seq(
    "data.dimension" -> s.dimension.toString,
    "data.bin.number" -> s.numBins.toString,
    "melody.project.vector.number" -> s.vectors.length.toString,
    "melody.grid.cell.granularity" -> s.grid.toString,
    "melody.normal.error.interval" -> s.intervals.toString)

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}
