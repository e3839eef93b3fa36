package emdbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}
import graft.api.MelodyCompat
import graft.core.{Emd, TreeEmd}
import graft.operators.{EmdJoins, MelodyJoin, MrSimJoin}

/** One workload: a seeded corpus of `n` records and the radii it is
  * joined at, as fractions of all n(n-1)/2 pairs. The largest radius is
  * the threshold of every timed join; the whole ladder runs over one
  * prepared corpus in the traced run. Top-k runs at k (and 2k in the
  * ladder); a positive `sqlSlice` adds the SQL join over ids divisible
  * by it. */
final case class Workload(name: String, n: Int, gen: (Long, Int) => Corpus,
                          fractions: Seq[Double], k: Int, sqlSlice: Int)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("cube30-select", 450, Gen.cube30, Seq(0.005, 0.0035, 0.002, 0.001), 20, sqlSlice = 0),
    Workload("line8-dense", 5000, Gen.line8, Seq(0.0025, 0.0015, 0.001, 0.0005), 20, sqlSlice = 8))
}

/** EMD similarity-join benchmark: one workload, one seed, one run.
  *
  *   --root <checkout> --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   [--plant drop|perturb|throw]  fault injection for the self-tests
  *   [--gen-only <dir>]            write the inputs and exit
  *
  * Prints one line per metric, then one JSON object as the last line. */
object Main {

  final case class Args(root: Path, workload: Workload, seed: Long, seconds: Int,
                        trace: Boolean, plant: String, genOnly: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k -> v
      case other => throw new IllegalArgumentException(s"dangling argument ${other.mkString}") }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = Workload.all.find(_.name == get("--workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${get("--workload")}; " +
        Workload.all.map(_.name).mkString("known: ", ", ", "")))
    Args(Paths.get(get("--root")).toAbsolutePath, w, get("--seed").toLong,
      get("--seconds").toInt, get("--trace") == "1", m.getOrElse("--plant", ""),
      m.get("--gen-only").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try new Run(parse(argv)).run()
      catch { case t: Throwable => t.printStackTrace(); 2 }
    System.exit(code)
  }
}

/** Inputs of one run, generated before any timing starts. */
final class Inputs(val dir: Path, val corpus: Corpus, val radii: Seq[Double], val ref: Pairs) {
  val theta: Double = radii.max
  val hist: String = dir.resolve("hist.txt").toString
  val bins: String = dir.resolve("bins.txt").toString
  val vectors: String = dir.resolve("vectors.txt").toString
  def props(name: String): java.util.Properties = {
    val p = new java.util.Properties
    val in = Files.newInputStream(dir.resolve(name))
    try p.load(in) finally in.close()
    p
  }
  def refAt(r: Double): Pairs = ref.within(r)
  private val topKs = scala.collection.mutable.Map.empty[Int, Pairs]
  def topK(k: Int): Pairs = topKs.getOrElseUpdate(k, Check.topK(ref, k))
}

object Inputs {
  /** Generate corpus, answer key and radii; write the reference-format
    * files and one properties file per operation. */
  def make(dir: Path, w: Workload, seed: Long, n: Int): Inputs = {
    val corpus = w.gen(seed, n)
    val (radii, ref) = Reference.radii(corpus, w.fractions, seed)
    Gen.writeInputs(dir, corpus)
    val shape = Gen.shapeProperties(corpus.shape)
    val theta = java.math.BigDecimal.valueOf(radii.max).toPlainString
    def engine(joinType: String, method: String) = shape ++ Seq(
      "melody.join.type" -> joinType,
      "melody.join.distance.threshold" -> theta,
      "melody.join.k" -> w.k.toString,
      "mr.method.name" -> method)
    Gen.writeProperties(dir.resolve("threshold.properties"), engine("distance", "melody"))
    Gen.writeProperties(dir.resolve("topk.properties"), engine("topk", "melody"))
    Gen.writeProperties(dir.resolve("mrsim.properties"), engine("distance", "mrsim"))
    Gen.writeProperties(dir.resolve("ladder.properties"), Seq(
      "radii" -> radii.map(r => java.math.BigDecimal.valueOf(r).toPlainString).mkString(","),
      "k" -> s"${w.k},${2 * w.k}",
      "pairs.at.max.radius" -> ref.size.toString))
    new Inputs(dir, corpus, radii, ref)
  }
}

/** A timed operation's outcome. Failed operations enter every median as
  * +infinity: a crash or a wrong answer never reads as fast. `steal` is
  * the share of processor time the host took from this machine while the
  * operation ran. */
final case class Sample(kind: String, seconds: Double, ok: Boolean, warm: Boolean,
                        counters: OpCounters, steal: Double = 0.0)

/** Host steal time from /proc/stat (all processors, in jiffies). Under
  * a hypervisor that overcommits processors, a few percent of stolen
  * time slows these joins by tens of percent, and it comes in bursts. */
object Steal {
  def ticks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def share(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0.0
}

object Run {
  val Corpora = 3
}

final class Run(a: Main.Args) {
  private val w = a.workload
  private val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
  private val build = a.root.resolve(".bench_build")
  private val samples = ArrayBuffer.empty[Sample]
  private var attempted = 0
  private var failed = 0
  private var plant = a.plant
  private val spans = new Spans
  private var recorder: Recorder = null
  private var spark: SparkSession = null

  private val t0 = System.nanoTime()
  private def elapsed(): Double = (System.nanoTime() - t0) / 1e9
  private def log(s: String): Unit = { println(s); Console.flush() }

  def run(): Int = {
    val tag = s"${w.name}-s${a.seed}"
    val dir = a.genOnly.getOrElse(build.resolve("inputs").resolve(tag))
    // several corpora per seed, one per cycle in turn: the engines' cost
    // swings from corpus to corpus (quantile grids and dual bounds follow
    // the data), and a median over corpora keeps that out of the run's
    // figures more than a median over one corpus can
    val ins = (0 until Run.Corpora).map { j =>
      Inputs.make(dir.resolve(s"c$j"), w, a.seed * 1000 + j, w.n)
    }
    val warmIn = Inputs.make(dir.resolve("warm"), w, a.seed * 1000 + 999, 200)
    if (a.genOnly.isDefined) return 0
    for (in <- ins)
      log(f"inputs (${elapsed()}%.1f s): ${w.name} n=${in.corpus.n} radii=${in.radii.mkString(",")} " +
        s"pairs=${in.ref.size} dir=${in.dir}")
    val in = ins.head

    val setups = (1 to 3).map { i =>
      if (spark != null) spark.stop()
      val s = setup(warmIn)
      log(f"setup $i: $s%.3f s")
      s
    }
    ins.foreach(validate)
    witness(in)
    // one untimed cycle at full size: the first operations on a corpus of
    // this size still pay JIT compilation that the small warm-up leaves out
    cycle(in, warm = true)

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (!a.trace) {
      loop(ins, a.seconds, minCycles = ins.length)
      val kinds = Seq("threshold" -> "threshold_s", "topk" -> "topk_s",
        "mrsim" -> "mrsim_threshold_s", "prepare" -> "prepare_s")
      metrics += (("setup_s", median(setups), "s"))
      for ((k, name) <- kinds) metrics += ((name, medianOf(k), "s"))
      metrics += (("peak_rss_mb", peakRssMb(), "MB"))
    } else {
      // the same operations untraced, then traced: the difference of the
      // medians is the tracing overhead
      val kinds = Seq("threshold", "topk", "mrsim", "prepare", "sql")
      loop(ins, a.seconds / 2.0, minCycles = 1)
      val untraced = kinds.map(medianOf)
      samples.clear()
      recorder = Recorder.install(spark)
      loop(ins, a.seconds / 2.0, minCycles = 1)
      val over = kinds.map(medianOf).sum - untraced.sum
      metrics += (("trace.overhead_s", over, "s"))
      metrics += (("trace.overhead_frac", over / untraced.sum, "fraction"))
      metrics ++= runtimeMetrics(kinds)
      metrics ++= probes(in)
      spans.write(build.resolve("trace").resolve(tag + ".json"))
    }
    spark.stop()

    for ((n, v, u) <- metrics) log(f"metric $n%-34s $v%14.6f $u")
    val correct = failed == 0
    log(s"check: ${if (correct) "PASS" else "FAIL"} — $failed of $attempted operations failed " +
      f"(ops_failed_frac ${failed.toDouble / attempted}%.4f)")
    println(Json.result(correct, attempted, failed, metrics.toSeq))
    Console.flush()
    if (correct) 0 else 1
  }

  // ---------------------------------------------------------------- setup

  private def newSession(): SparkSession = {
    val tmp = build.resolve("tmp")
    Files.createDirectories(tmp)
    val s = SparkSession.builder()
      .appName("emdbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session start plus one threshold join on a small corpus of the same
    * shape (class loading and code generation of the engine): what a user
    * pays before the first query. */
  private def setup(warm: Inputs): Double = {
    val t0 = System.nanoTime()
    spark = newSession()
    val df = MelodyCompat.run(spark, warm.hist, warm.bins, warm.vectors, warm.props("threshold.properties"))
    sink(df)
    val dt = (System.nanoTime() - t0) / 1e9
    record("setup", 0.0, warm = true, verify(df, warm.ref, "warm-up threshold"))
    spark.catalog.clearCache()
    dt
  }

  /** Untimed check of the answer key itself: an unpruned full scan of a
    * record sample. */
  private def validate(in: Inputs): Unit =
    record("validate.sample", 0.0, warm = true,
      Reference.unprunedSample(in.corpus, in.ref, in.theta, a.seed, 24))

  /** On 1-D data, the closed-form banded join as a third engine. */
  private def witness(in: Inputs): Unit = if (in.corpus.shape.dimension == 1) {
    val df = EmdJoins.emd1dThresholdJoin(
      MelodyCompat.readHistogramText(spark, in.hist), in.theta, in.corpus.shape.numBins)
    record("validate.emd1d", 0.0, warm = true, verify(df, in.ref, "EmdJoins.emd1dThresholdJoin"))
    spark.catalog.clearCache()
  }

  // ------------------------------------------------------------ operations

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def verify(df: DataFrame, want: Pairs, label: String,
                     plantable: Boolean = false): Option[String] =
    Check.collect(df) match {
      case Left(err) => Some(s"$label: $err")
      case Right(got) => Check.samePairs(label, if (plantable) planted(got) else got, want)
    }

  /** Self-test hook (--plant): corrupt the first timed threshold result. */
  private def planted(got: Pairs): Pairs = plant match {
    case "drop" if got.size > 0 =>
      plant = ""; new Pairs(got.keys.drop(1), got.dists.drop(1))
    case "perturb" if got.size > 0 =>
      plant = ""; new Pairs(got.keys, got.dists.updated(0, got.dists(0) + 1e-6))
    case _ => got
  }

  private def record(kind: String, seconds: Double, warm: Boolean, err: Option[String],
                     counters: OpCounters = null, steal: Double = 0.0): Unit = {
    attempted += 1
    err.foreach { e => failed += 1; log(s"FAILED $kind: ${e.take(400)}") }
    log(f"op ${elapsed()}%7.1f $kind%-16s $seconds%9.4f s steal ${steal * 100}%4.1f%%" +
      (if (warm) " (warm)" else ""))
    samples += Sample(kind, seconds, err.isEmpty, warm, counters, steal)
  }

  /** Time `body` to full materialization, then check its output (untimed).
    * With a recorder installed, the operation's listener events and a
    * span are credited to it. */
  private def op[T](kind: String, warm: Boolean)(body: => T)(check: T => Option[String]): Option[T] = {
    val counters = if (recorder != null) recorder.start() else null
    spans.newOp()
    val t0 = System.nanoTime(); val st0 = Steal.ticks()
    val out =
      try Right(spans(kind) {
        if (kind == "threshold" && !warm && plant == "throw") {
          plant = ""; throw new RuntimeException("planted failure")
        }
        body
      })
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9; val steal = Steal.share(st0, Steal.ticks())
    if (recorder != null) recorder.finish()
    val err = out match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    record(kind, dt, warm, err, counters, steal)
    out.toOption
  }

  private def compat(in: Inputs, kind: String, props: String, want: Pairs, warm: Boolean): Unit = {
    op(kind, warm) {
      val df = MelodyCompat.run(spark, in.hist, in.bins, in.vectors, in.props(props))
      sink(df); df
    }(df => verify(df, want, kind, plantable = kind == "threshold" && !warm))
    spark.catalog.clearCache()
  }

  private def config(in: Inputs, props: String): MelodyJoin.Config =
    MelodyCompat.engineConfig(MelodyCompat.parseProperties(in.props(props)),
      MelodyCompat.readSideFile(spark, in.bins), MelodyCompat.readSideFile(spark, in.vectors))

  private def prepare(in: Inputs, warm: Boolean): Option[(MelodyJoin.Prepared, MelodyJoin.Config)] =
    op("prepare", warm) {
      val cfg = config(in, "threshold.properties")
      (MelodyJoin.prepareCached(spark, MelodyCompat.readHistogramText(spark, in.hist), cfg), cfg)
    } { case (p, _) =>
      val covered = p.summaries.map(_.count).sum
      if (covered == in.corpus.n) None
      else Some(s"prepare: cell summaries cover $covered of ${in.corpus.n} records")
    }

  private def sql(in: Inputs, warm: Boolean, kind: String = "sql"): Unit = if (w.sqlSlice > 0) {
    val want = in.ref.restrictTo(_ % w.sqlSlice == 0)
    op(kind, warm) { val df = sqlQuery(in); sink(df); df }(df => verify(df, want, kind))
  }

  private def sqlQuery(in: Inputs): DataFrame = {
    MelodyCompat.readHistogramText(spark, in.hist).filter(col("id") % w.sqlSlice === 0)
      .createOrReplaceTempView("emdbench_slice")
    spark.sql(
      s"""SELECT a.id AS rid, b.id AS sid, graft_emd1d(a.weights, b.weights) AS dist
         |FROM emdbench_slice a JOIN emdbench_slice b ON a.id < b.id
         |WHERE graft_emd1d(a.weights, b.weights) <= ${java.math.BigDecimal.valueOf(in.theta).toPlainString}D
         |""".stripMargin)
  }

  /** One cycle of the workload's operations. */
  private def cycle(in: Inputs, warm: Boolean): Unit = {
    compat(in, "threshold", "threshold.properties", in.ref, warm)
    compat(in, "topk", "topk.properties", in.topK(w.k), warm)
    compat(in, "mrsim", "mrsim.properties", in.ref, warm)
    prepare(in, warm)
    MelodyJoin.clearPrepCache(spark)
    sql(in, warm)
  }

  /** Cycles over the corpora in turn until `seconds` have passed and at
    * least `minCycles` ran. */
  private def loop(ins: Seq[Inputs], seconds: Double, minCycles: Int): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      cycle(ins(i % ins.length), warm = false)
      i += 1
    }
    log(f"loop: $i cycles in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Median over the timed operations of a kind. Operations during which
    * the host stole more than `StealLimit` of the processors are left out
    * when at least two others remain: stolen time is not the program's. */
  private val StealLimit = 0.02

  private def medianOf(kind: String): Double = {
    val all = samples.filter(s => s.kind == kind && !s.warm)
    val quiet = all.filter(_.steal <= StealLimit)
    val xs = (if (quiet.length >= 2) quiet else all)
      .map(s => if (s.ok) s.seconds else Double.PositiveInfinity)
    if (xs.isEmpty) 0.0 else median(xs.toSeq)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  // ----------------------------------------------------------- layer trace

  /** Spark runtime and Catalyst counters per operation kind (median over
    * the traced operations of that kind; zero for kinds the workload does
    * not run). */
  private def runtimeMetrics(kinds: Seq[String]): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024
    kinds.flatMap { k =>
      val ops = samples.filter(s => s.kind == k && !s.warm && s.counters != null)
      def med(f: Sample => Double): Double = if (ops.isEmpty) 0.0 else median(ops.map(f).toSeq)
      Seq(
        (s"$k.spark.jobs", med(_.counters.jobs.toDouble), "count"),
        (s"$k.spark.tasks", med(_.counters.tasks.toDouble), "count"),
        (s"$k.spark.task_s", med(_.counters.runNs / 1e9), "s"),
        (s"$k.spark.cpu_s", med(_.counters.cpuNs / 1e9), "s"),
        (s"$k.spark.gc_s", med(_.counters.gcNs / 1e9), "s"),
        (s"$k.spark.idle_core_s", med(s => s.seconds * cores - s.counters.runNs / 1e9), "s"),
        (s"$k.spark.shuffle_write_mb", med(_.counters.shuffleWrite / mb), "MB"),
        (s"$k.spark.shuffle_read_mb", med(_.counters.shuffleRead / mb), "MB"),
        (s"$k.spark.fetch_wait_s", med(_.counters.fetchWaitNs / 1e9), "s"),
        (s"$k.spark.spill_mb", med(_.counters.spill / mb), "MB"),
        (s"$k.spark.task_failures", med(_.counters.taskFailures.toDouble), "count"),
        (s"$k.catalyst.actions", med(_.counters.actions.toDouble), "count"),
        (s"$k.catalyst.plan_s", med(_.counters.planNs / 1e9), "s"))
    }
  }

  private def spanMedian(name: String): Double = median(spans.seconds(name))

  /** Per-layer probes: each layer's public calls, timed from outside
    * (two repetitions, medians), with the layer's work counts. */
  private def probes(in: Inputs): Seq[(String, Double, String)] = {
    val out = ArrayBuffer.empty[(String, Double, String)]
    val theta = in.theta
    val reps = 2
    val cfg = config(in, "threshold.properties")

    // api input
    for (_ <- 1 to reps) spans("input.read") {
      sink(MelodyCompat.readHistogramText(spark, in.hist))
      MelodyCompat.readSideFile(spark, in.bins); MelodyCompat.readSideFile(spark, in.vectors)
    }
    val records = MelodyCompat.readHistogramText(spark, in.hist).count()
    record("input", 0.0, warm = true,
      if (records == in.corpus.n) None else Some(s"input: read $records of ${in.corpus.n} records"))
    out += (("input.read_s", spanMedian("input.read"), "s"))
    out += (("input.records", records.toDouble, "count"))

    // prepare: the whole cached build, then its decomposition
    val subs = Seq("grids", "duals", "tree", "enrich", "summarize")
    var cells = 0
    for (_ <- 1 to reps) {
      MelodyJoin.clearPrepCache(spark)
      val hists = MelodyCompat.readHistogramText(spark, in.hist)
      spans("prepare.cached")(MelodyJoin.prepareCached(spark, hists, cfg))
      MelodyJoin.clearPrepCache(spark)
      spans("prepare") {
        val grids = spans("prepare.grids")(MelodyJoin.buildGrids(spark, hists, cfg))
        val duals = spans("prepare.duals")(MelodyJoin.buildDuals(spark, hists, cfg))
        val tree = spans("prepare.tree") {
          if (cfg.dimension == 1 && cfg.numVectors == 1) None else TreeEmd.build(cfg.bins, cfg.dimension)
        }
        val enriched = spans("prepare.enrich") {
          val e = MelodyJoin.enrich(spark, hists, cfg, grids, duals, tree).persist()
          e.count(); e
        }
        val sums = spans("prepare.summarize") {
          MelodyJoin.summarize(enriched, cfg, duals.length, tree.map(_.numFeatures).getOrElse(0))
        }
        cells = sums.length
        enriched.unpersist(true)
      }
    }
    val prepS = spanMedian("prepare.cached")
    out += (("prepare.s", prepS, "s"))
    for (s <- subs) out += ((s"prepare.${s}_s", spanMedian(s"prepare.$s"), "s"))
    out += (("prepare.remainder_s", prepS - subs.map(s => spanMedian(s"prepare.$s")).sum, "s"))
    out += (("prepare.cells", cells.toDouble, "count"))

    val prep = MelodyJoin.prepareCached(spark, MelodyCompat.readHistogramText(spark, in.hist), cfg)

    // guest enumeration at the largest radius
    var guests: Array[(Long, Long, Array[Long])] = null
    for (_ <- 1 to reps) guests = spans("guest.enum")(enumerate(prep, cfg, theta))
    val copies = guests.map(_._3.length.toLong).sum
    out += (("guest.copies", copies.toDouble, "count"))
    out += (("guest.per_record", copies.toDouble / guests.length, "count"))
    out += (("guest.enum_s", spanMedian("guest.enum"), "s"))

    // join over the prepared state
    for (_ <- 1 to reps)
      op("join", warm = true) {
        val df = MelodyJoin.thresholdJoinPrepared(spark, prep, theta, cfg); sink(df); df
      }(df => verify(df, in.ref, "join"))
    val cand = new Candidates(guests)
    out += (("join.s", spanMedian("join"), "s"))
    out += (("join.candidate_pairs", cand.total.toDouble, "count"))
    out += (("join.output_pairs", in.ref.size.toDouble, "count"))
    out += (("join.yield", in.ref.size.toDouble / cand.total, "fraction"))

    // top-k against a threshold join at the exact k-th radius
    val k = w.k
    val topK = in.topK(k)
    val kth = topK.dists.max
    for (_ <- 1 to reps) {
      op("topk.prepared", warm = true) {
        val df = MelodyJoin.topKJoinPrepared(spark, prep, k, cfg); sink(df); df
      } { df => val e = verify(df, topK, "topk.prepared"); df.unpersist(); e }
      op("topk.at_kth", warm = true) {
        val df = MelodyJoin.thresholdJoinPrepared(spark, prep, kth + 2e-6, cfg)
          .orderBy(round(col("dist"), 6), col("rid"), col("sid")).limit(k)
        sink(df); df
      }(df => verify(df, topK, "topk.at_kth"))
    }
    out += (("topk.s", spanMedian("topk.prepared"), "s"))
    out += (("topk.overhead_s", spanMedian("topk.prepared") - spanMedian("topk.at_kth"), "s"))

    // many queries over the one prepared corpus: the radius ladder from
    // the largest down (each result must also equal the largest one
    // filtered to its radius), then top-k at k and 2k
    var largest: Pairs = null
    for (r <- in.radii.sortBy(-_))
      op("sweep.threshold", warm = true) {
        val df = MelodyJoin.thresholdJoinPrepared(spark, prep, r, cfg); sink(df); df
      } { df =>
        Check.collect(df) match {
          case Left(err) => Some(s"sweep.threshold@$r: $err")
          case Right(got) =>
            if (largest == null) largest = got
            Check.samePairs(s"sweep.threshold@$r", got, in.refAt(r))
              .orElse(Check.samePairs(s"sweep.threshold@$r vs largest", got, largest.within(r)))
        }
      }
    for (kk <- Seq(k, 2 * k))
      op("sweep.topk", warm = true) {
        val df = MelodyJoin.topKJoinPrepared(spark, prep, kk, cfg); sink(df); df
      } { df => val e = verify(df, in.topK(kk), s"sweep.topk@$kk"); df.unpersist(); e }
    out += (("sweep.threshold_s", spanMedian("sweep.threshold"), "s"))
    out += (("sweep.topk_s", spanMedian("sweep.topk"), "s"))

    out ++= core(in, prep, cfg, cand)
    MelodyJoin.clearPrepCache(spark)

    // MRSimJoin with its routing-solve count
    var solves = 0L
    for (_ <- 1 to reps)
      op("mrsim.counted", warm = true) {
        val (df, n) = MrSimJoin.thresholdJoinCounted(
          spark, MelodyCompat.readHistogramText(spark, in.hist), theta, cfg)
        solves = n; sink(df); df
      } { df => val e = verify(df, in.ref, "mrsim.counted"); df.unpersist(); e }
    spark.catalog.clearCache()
    out += (("mrsim.s", spanMedian("mrsim.counted"), "s"))
    out += (("mrsim.routing_solves", solves.toDouble, "count"))

    // SQL surface: graft_emd1d under RubnerPrefilter, on the id slice
    if (w.sqlSlice > 0) {
      for (_ <- 1 to reps) sql(in, warm = true, kind = "sql.probe")
      val slice = in.corpus.normed.indices.filter(_ % w.sqlSlice == 0).map(in.corpus.weights)
      val means = slice.map(wt => wt.indices.map(i => i * wt(i)).sum).toArray
      var pass = 0L
      for (i <- means.indices; j <- i + 1 until means.length)
        if (math.abs(means(i) - means(j)) <= theta + 1e-9) pass += 1
      val pairs = means.length.toLong * (means.length - 1) / 2
      out += (("sql.s", spanMedian("sql.probe"), "s"))
      out += (("sql.pairs_evaluated", pairs.toDouble, "count"))
      out += (("sql.rubner_pass_frac", pass.toDouble / pairs, "fraction"))
    } else {
      out += (("sql.s", 0.0, "s"))
      out += (("sql.pairs_evaluated", 0.0, "count"))
      out += (("sql.rubner_pass_frac", 0.0, "fraction"))
    }
    out.toSeq
  }

  /** Guest combos per record: (id, own combo, guest combos). */
  private def enumerate(prep: MelodyJoin.Prepared, cfg: MelodyJoin.Config,
                        theta: Double): Array[(Long, Long, Array[Long])] = {
    val sc = spark.sparkContext
    val cfgB = sc.broadcast(cfg)
    val gridsB = sc.broadcast(prep.grids)
    val dualsB = sc.broadcast(prep.duals)
    val sumB = sc.broadcast(prep.summaries)
    val envB = sc.broadcast(MelodyJoin.cellEnvelopesPublic(prep.summaries, cfg))
    val idxB = sc.broadcast(new MelodyJoin.SummaryIndex(prep.summaries))
    val gap = prep.tree.map(_.distortion * theta).getOrElse(-1.0)
    prep.enriched.rdd.mapPartitions { it =>
      it.map { r =>
        (r.getLong(0), r.getLong(2), MelodyJoin.guestCombosPublic(r, cfgB.value, gridsB.value,
          dualsB.value, sumB.value, envB.value, theta, gap, idxB.value))
      }
    }.collect()
  }

  /** The candidate pairs the join generates: every pair within a combo,
    * plus every (guest copy, native of the guest's combo) pair. */
  private final class Candidates(guests: Array[(Long, Long, Array[Long])]) {
    val members: Map[Long, Array[Int]] =
      guests.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1.toInt).sorted }
    private val combos = members.keys.toArray.sorted
    private val innerCum = combos.map(c => members(c).length.toLong * (members(c).length - 1) / 2).scanLeft(0L)(_ + _)
    private val crossCum = guests.map(_._3.map(g => members.get(g).map(_.length.toLong).getOrElse(0L)).sum).scanLeft(0L)(_ + _)
    val inner: Long = innerCum.last
    val total: Long = inner + crossCum.last

    private def find(cum: Array[Long], u: Long): Int = {
      var lo = 0; var hi = cum.length - 1 // cum(lo) <= u < cum(hi)
      while (hi - lo > 1) { val m = (lo + hi) >>> 1; if (cum(m) <= u) lo = m else hi = m }
      lo
    }

    /** A uniform seeded sample of candidate pairs, lower id first. */
    def sample(m: Int, seed: Long): Array[(Int, Int)] = {
      val rnd = new java.util.Random(seed ^ 0xca4d1dL)
      Array.fill(m) {
        val u = (rnd.nextDouble() * total).toLong.min(total - 1)
        val (x, y) =
          if (u < inner) {
            val ms = members(combos(find(innerCum, u)))
            val i = rnd.nextInt(ms.length); var j = rnd.nextInt(ms.length - 1)
            if (j >= i) j += 1
            (ms(i), ms(j))
          } else {
            val g = guests(find(crossCum, u - inner))
            val sizes = g._3.map(c => members.get(c).map(_.length).getOrElse(0))
            var v = rnd.nextInt(sizes.sum); var c = 0
            while (v >= sizes(c)) { v -= sizes(c); c += 1 }
            (g._1.toInt, members(g._3(c))(v))
          }
        (math.min(x, y), math.max(x, y))
      }
    }
  }

  /** Core kernels on a seeded sample of candidate pairs: the cascade as
    * the join runs it, the exact solver, and each bound alone. On 1-D
    * single-vector data the join bypasses this layer (closed-form path);
    * the sample still measures what the layer would cost. */
  private def core(in: Inputs, prep: MelodyJoin.Prepared, cfg: MelodyJoin.Config,
                   cand: Candidates): Seq[(String, Double, String)] = {
    val theta = in.theta
    val pairs = cand.sample(2000, a.seed).map { case (i, j) => (in.corpus.normed(i), in.corpus.normed(j)) }
    val cascade = new MelodyJoin.Cascade(cfg, prep.duals)
    def nsPerPair(f: (Array[Double], Array[Double]) => Double): Double = {
      var sink = 0.0
      val times = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        pairs.foreach { case (x, y) => sink += f(x, y) }
        (System.nanoTime() - t0).toDouble / pairs.length
      }
      if (sink == 42.0) log("")
      median(times.drop(1))
    }
    val cascadeNs = spans("core.cascade")(nsPerPair(cascade.emdIfCandidate(_, _, theta)))
    val exactNs = spans("core.exact")(nsPerPair(Emd.exact(_, _, cfg.cost)))
    val tree = TreeEmd.build(cfg.bins, cfg.dimension)
    def frac(p: ((Array[Double], Array[Double])) => Boolean): Double =
      pairs.count(p).toDouble / pairs.length
    Seq(
      ("core.sample_pairs", pairs.length.toDouble, "count"),
      ("core.cascade_ns", cascadeNs, "ns"),
      ("core.exact_ns", exactNs, "ns"),
      ("core.bound.proj.reject_frac",
        frac { case (x, y) => (0 until cfg.numVectors).exists(j => cfg.proj1dEmd(j, x, y) > theta) }, "fraction"),
      ("core.bound.dual.reject_frac",
        frac { case (x, y) => prep.duals.exists(_.dualEmd(x, y) > theta) }, "fraction"),
      ("core.bound.tree.reject_frac",
        frac { case (x, y) => tree.exists(t => t.dist(x, y) > theta * t.distortion) }, "fraction"),
      ("core.bound.indmin.reject_frac",
        frac { case (x, y) => Emd.indMin(x, y, cfg.cost) > theta }, "fraction"))
  }
}

/** The result line. Non-finite values (a median over failed operations)
  * print as 1e9 so the line stays valid JSON. */
object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "1.0E9" else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}
