package pipebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Spark sessions and the timed `RunPipeline.run` call. */
object Harness {
  val Buckets = 8
  val GroupSize = 8

  /** Cores of the full-width session; the scaling pair's narrow session
    * gets a quarter of them. */
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val NarrowCores: Int = math.max(1, Cores / 4)

  /** Session at `cores` task threads. Shuffle partitions and default
    * parallelism are fixed at [[Cores]] on both sides of the scaling pair,
    * so both sides run the same job with a different thread count. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"pipebench-$cores")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.default.parallelism", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def pipelineArgs(w: Workload, noisy: String, clean: String, runDir: String): Map[String, String] =
    Map("input" -> noisy, "clean" -> clean, "output" -> s"$runDir/out",
      "state" -> s"$runDir/state", "run-id" -> "bench",
      "buckets" -> Buckets.toString, "group-size" -> GroupSize.toString) ++ w.runArgs

  def deleteDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** `RunPipeline.run` wall seconds and its metrics line. */
  def timedRun(spark: SparkSession, args: Map[String, String]): (String, Double) = {
    val t0 = System.nanoTime()
    val line = graft.RunPipeline.run(spark, args)
    (line, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after full collections, in MiB. The pause between them
    * lets Spark's context cleaner drop blocks whose owners the first
    * collection freed. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

/**
 * Benchmark main: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
 * --work <dir> --traces <dir>`. Generates the workload's tables under the
 * work dir, sets up a session with an untimed warm-up run, measures for
 * `<s>` seconds, checks every timed run's output, and prints
 * `PIPEBENCH_INFO` lines and one closing `PIPEBENCH_RESULT` line with the
 * metrics.
 */
object Main {

  /** Warm-up runs in set-up (see `Ctx.setUp`). */
  private val WarmUps = 2

  private final class Ctx(val w: Workload, val seed: Long, val seconds: Int, val work: String,
                          val traceDir: String) {
    val noisy = s"$work/noisy"
    val clean = s"$work/clean"
    val warmNoisy = s"$work/warm-noisy"
    val warmClean = s"$work/warm-clean"
    private var k = 0
    def nextRunDir(): String = { k += 1; s"$work/runs/$k" }
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    var check: Check = _
    var setupS = Double.NaN

    def fail(msg: String): Unit = { failed += 1; problems += msg; progress(s"failed: $msg") }

    /** One timed `RunPipeline.run` plus its output check; None on failure. */
    def measured(spark: SparkSession): Option[(Reported, Verdict, Double)] = {
      val dir = nextRunDir()
      attempted += 1
      val out = try {
        val (line, sec) = Harness.timedRun(spark, Harness.pipelineArgs(w, noisy, clean, dir))
        val rep = Reported.parse(line)
        val v = check.check(spark, s"$dir/out", rep)
        if (v.ok) Some((rep, v, sec)) else { fail(v.problems.mkString("; ")); None }
      } catch { case e: Exception => fail(e.toString); None }
      Harness.deleteDir(dir)
      progress(s"timed run ${out.map(_._3)} on ${spark.sparkContext.master}")
      out
    }

    /**
     * Full-width session start, input generation, the untimed warm-up runs
     * and the check's expectations. The warm-up is [[WarmUps]] runs over
     * the first eighth of the docs: a fresh JVM is still compiling for
     * several runs, and small runs get it there at a fraction of the cost
     * of full ones; a later session start gets one more. Set-up time is
     * the session start plus the warm-up runs, so it carries the JIT
     * warm-up; input generation and the check are the benchmark's own work
     * and excluded.
     */
    def setUp(): SparkSession = {
      val t0 = System.nanoTime()
      val spark = Harness.session(Harness.Cores, work)
      val sessionNs = System.nanoTime() - t0
      val t1 = System.nanoTime()
      val g = w.generate(seed)
      Workloads.write(spark, g, noisy, clean)
      Workloads.write(spark, g.take(w.nDocs / 8), warmNoisy, warmClean)
      val genS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      (1 to WarmUps).foreach(_ => warmUp(spark))
      setupS = (sessionNs + System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      check = new Check(spark, w, seed, noisy, clean)
      info(Seq("workload" -> w.name, "seed" -> seed, "docs" -> g.docs,
        "text_spans" -> g.textSpans, "media_spans" -> g.mediaSpans,
        "noised_span_share" -> g.noisedSpans.toDouble / g.textSpans,
        "docs_surviving_curation" -> check.expected.size, "gen_s" -> genS,
        "setup_s" -> setupS, "check_build_s" -> (System.nanoTime() - t3) / 1e9))
      spark
    }

    /** An untimed `RunPipeline.run` over the warm-up tables. */
    def warmUp(spark: SparkSession): Unit = {
      val dir = nextRunDir()
      graft.RunPipeline.run(spark, Harness.pipelineArgs(w, warmNoisy, warmClean, dir))
      Harness.deleteDir(dir)
    }

    /** A new session at `cores`, with one warm-up run, so the timed run is
      * not the new context's first. */
    def restart(cores: Int): SparkSession = {
      val spark = Harness.session(cores, work)
      warmUp(spark)
      spark
    }

    def giveUpIfAllFailed(succeeded: Int): Unit =
      if (succeeded == 0 && attempted >= 6) throw new IllegalStateException(
        s"every run failed: ${problems.take(3).mkString("; ")}")
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def json(m: Iterable[(String, Any)]): String = m.map { case (k, v) =>
    val s = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case s: String => quote(s)
      case x: Seq[_] => x.map { case s: String => quote(s); case o => o.toString }.mkString("[", ",", "]")
      case o => o.toString
    }
    s""""$k":$s"""
  }.mkString("{", ",", "}")

  private def info(m: Iterable[(String, Any)]): Unit = println("PIPEBENCH_INFO " + json(m))

  private val started = System.nanoTime()

  /** Progress note on stderr (the run log). */
  private def progress(msg: String): Unit =
    System.err.println(f"pipebench ${(System.nanoTime() - started) / 1e9}%8.2fs $msg")

  /** Exits explicitly: Spark's non-daemon threads would keep a JVM whose
    * run failed part-way alive until it is killed. */
  def main(args: Array[String]): Unit = {
    val code = try { bench(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def bench(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val c = new Ctx(Workloads.byName(a("workload")), a("seed").toLong, a("seconds").toInt,
      a("work"), a("traces"))
    val metrics = if (a("trace") == "1") traced(c) else endToEnd(c)
    if (c.problems.nonEmpty) info(Seq("problems" -> c.problems.take(10).toSeq))
    val ms = metrics.map { case (k, (v, unit)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    println(s"""PIPEBENCH_RESULT {"correct":${c.failed == 0 && c.attempted > 0},""" +
      s""""attempted":${c.attempted},"failed":${c.failed},"metrics":$ms}""")
  }

  /**
   * End-to-end metrics: timed `RunPipeline.run`s on the full-width session
   * (`local[Cores]`) until the window closes, at least one.
   */
  private def endToEnd(c: Ctx): Seq[(String, (Double, String))] = {
    val rates = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    var cer = Double.NaN; var pct = Double.NaN
    val spark = c.setUp()
    val t0 = System.nanoTime()
    while (rates.isEmpty || System.nanoTime() - t0 < c.seconds * 1e9) {
      for ((rep, v, sec) <- c.measured(spark)) {
        rates += rep.spansTotal / sec
        cer = v.cer; pct = v.pctPerfect
      }
      heap += Harness.heapRetainedMb()
      c.giveUpIfAllFailed(rates.size)
    }
    Harness.stop(spark)
    info(Seq("cores" -> Harness.Cores, "spans_per_s_runs" -> rates.toSeq,
      "heap_retained_mb_samples" -> heap.toSeq))
    Seq(
      "spans_per_s" -> (Stats.median(rates.toSeq), "1/s"),
      "cer" -> (cer, "ratio"),
      "pct_perfect" -> (pct, "ratio"),
      "setup_s" -> (c.setupS, "s"),
      "heap_retained_mb" -> (Stats.median(heap.toSeq), "MiB"))
  }

  /**
   * Per-layer metrics: each iteration times the traced run of the job
   * between two untraced `RunPipeline.run`s (the untraced time is their
   * mean, so JIT warm-up still in progress does not fall on one side),
   * checking every output. Times are medians over the iterations; counts
   * repeat exactly. The last iteration's spans are written to
   * `<traces>/<run id>.jsonl`.
   */
  private def traced(c: Ctx): Seq[(String, (Double, String))] = {
    val spark = c.setUp()
    val iters = mutable.ArrayBuffer.empty[Map[String, Double]]
    var oov = Seq.empty[String]
    var lastTracer: Tracer = null
    val t0 = System.nanoTime()
    while (iters.isEmpty || System.nanoTime() - t0 < c.seconds * 1e9) {
      val before = c.measured(spark)
      val dir = c.nextRunDir()
      c.attempted += 1
      val tr = new Tracer(spark.sparkContext, s"${c.w.name}-seed${c.seed}-${iters.size}")
      val lis = new StageListener
      spark.sparkContext.addSparkListener(lis)
      val t1 = System.nanoTime()
      val res = try Some(TracedRun.run(spark, c.w, c.noisy, c.clean, s"$dir/out", s"$dir/state",
        "traced", tr)) catch { case e: Exception => c.fail(e.toString); None }
      val tracedS = (System.nanoTime() - t1) / 1e9
      org.apache.spark.pipebench.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(lis)
      val after = c.measured(spark)
      for (r <- res) {
        val v = c.check.check(spark, s"$dir/out", r.reported)
        if (!v.ok) c.fail(v.problems.mkString("; "))
        else for ((_, _, b) <- before; (_, _, a) <- after) {
          iters += LayerMetrics(r.metrics, tr, lis, s"$dir/out", tracedS, (b + a) / 2)
          oov = r.oovTokens
          lastTracer = tr
        }
      }
      Harness.deleteDir(dir)
      progress(s"traced run $tracedS")
      c.giveUpIfAllFailed(iters.size)
    }
    lastTracer.write(s"${c.traceDir}/${lastTracer.runId}.jsonl")
    val lat = LayerMetrics.oovLatency(c.check.model, oov, c.seed)
    val scaling = scalingPair(c, spark)
    val keys = iters.head.keys.toSeq.sorted
    keys.map(k => k -> (Stats.median(iters.map(_(k)).toSeq), LayerMetrics.unit(k))) ++
      (lat ++ scaling).map { case (k, v) => k -> (v, LayerMetrics.unit(k)) }
  }

  /**
   * The scaling pair, back to back: one timed run on the full-width
   * session, then one on a fresh `local[Cores/4]` session after its own
   * warm-up run. Both fix shuffle partitions and default parallelism at
   * `Cores`, so only the thread count differs. Stops `wide`.
   */
  private def scalingPair(c: Ctx, wide: SparkSession): Seq[(String, Double)] = {
    val hi = c.measured(wide)
    Harness.stop(wide)
    val narrow = c.restart(Harness.NarrowCores)
    val lo = c.measured(narrow)
    Harness.stop(narrow)
    val th = hi.map { case (r, _, s) => r.spansTotal / s }.getOrElse(Double.NaN)
    val tl = lo.map { case (r, _, s) => r.spansTotal / s }.getOrElse(Double.NaN)
    Seq("scaling.spans_per_s" -> th, "scaling.spans_per_s_1core" -> tl,
      "scaling.efficiency" -> th / (Harness.Cores.toDouble / Harness.NarrowCores * tl))
  }
}
