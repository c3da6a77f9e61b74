package streambench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
  * See README.md in this directory. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      smoke: Boolean, work: Path)

  /** Set-up generates the inputs this many times and reports the median. */
  val GenerateReps = 3
  /** Timed iterations at least, whatever `--seconds` says. */
  val MinIterations = 2

  val AnalyticsGroups = Seq("sessions", "dist", "q1", "q2", "q3")
  val Layers = Seq("pipeline", "store", "analytics", "operators", "plans", "bench")
  val Engine: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes", "spark.driver_gap_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s")

  /** Spans reported with their time (`.s`) and Spark job count (`.jobs`). */
  val StepSpans = Seq(
    "pipeline.raw_to_trusted.extract", "pipeline.raw_to_trusted.load",
    "pipeline.raw_to_trusted.register", "operators.dedup.ngram_pairs",
    "operators.dedup.minhash_pairs", "operators.dedup.clusters", "operators.dedup.keep_best")
  /** Spans reported with their time only: they run no jobs of their own
    * worth counting apart from the call they belong to. */
  val CallSpans = Seq("pipeline.landing_to_raw", "operators.curate", "operators.curate.quality_lang")

  /** Counts the workloads note, with units. */
  val Notes: Seq[(String, String)] = Seq(
    "store.trusted.files" -> "count", "store.trusted.bytes" -> "bytes",
    "store.copy.bytes_per_s" -> "B/s", "store.trusted_bytes_per_input_byte" -> "ratio",
    "operators.curate.docs_kept" -> "count",
    "operators.dedup.ngram_pairs.pairs" -> "count", "operators.dedup.minhash_pairs.pairs" -> "count",
    "operators.dedup.clusters.pairs" -> "count", "operators.dedup.keep_best.pairs" -> "count",
    "plans.graft_minhash.ns_per_shingle" -> "ns", "plans.jaccard_pairs.ns_per_pair" -> "ns")

  val PerLayer: Seq[(String, String)] =
    CallSpans.map(n => s"$n.s" -> "s") ++
      StepSpans.flatMap(n => Seq(s"$n.s" -> "s", s"$n.jobs" -> "count")) ++
      AnalyticsGroups.flatMap(g => Seq(s"analytics.$g.plan_s" -> "s", s"analytics.$g.exec_s" -> "s",
        s"analytics.$g.jobs" -> "count", s"analytics.$g.shuffle_bytes" -> "bytes")) ++
      Notes ++ Layers.map(l => s"$l.self_s" -> "s") ++ Engine ++
      Seq("trace.untraced_batch_s" -> "s", "trace.traced_batch_s" -> "s", "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, o.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl = workload(o, spark)
    val p = new Probe(spark, o.trace)

    def elapsed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // one iteration; its batch time is the summed latency of its calls
    def iteration(i: Int, traced: Boolean): Seq[Double] = {
      p.tracing = traced
      try p.span("bench", "iteration")(wl.iterate(p, i)) finally p.tracing = false
      p.take()
    }

    // set-up: inputs (median of several generations), preparation, warm-up
    val genS = median((1 to GenerateReps).map { r =>
      val dir = o.work.resolve(s"input_$r")
      val s = elapsed(wl.generate(dir))._2
      if (r > 1) Disk.delete(o.work.resolve(s"input_${r - 1}"))
      s
    })
    val prepS = elapsed(wl.prepare())._2
    val (cold, coldWall) = elapsed(iteration(0, traced = false))
    val warmWall = elapsed((1 to wl.warmups).foreach(iteration(_, traced = false)))._2
    val setupS = sessionS + genS + prepS + coldWall + warmWall

    // timed phase: a closed loop, one unit of work after another
    val batches = ArrayBuffer.empty[(Boolean, Double)]
    val latencies = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 1 + wl.warmups
    while (batches.size < MinIterations || System.nanoTime() < deadline) {
      val traced = o.trace && i % 2 == 1
      val calls = iteration(i, traced)
      batches += ((traced, calls.sum))
      if (!traced) latencies ++= calls
      i += 1
    }
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val liveHeapMb = heap.getUsed / 1048576.0

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val untraced = batches.map(_._2).toSeq
        Seq(
          ("batch_s", median(untraced), "s"), ("cold_batch_s", cold.sum, "s"),
          ("query_p90_s", quantile(latencies.toSeq, 0.9), "s"),
          ("setup_s", setupS, "s"), ("live_heap_mb", liveHeapMb, "MB"))
      } else {
        p.tracing = true
        try p.span("bench", "probes")(wl.layerProbes(p)) finally p.tracing = false
        perLayer(p, batches.toSeq)
      }

    val (st, mt) = Yardstick.sha256MiBs(cores)
    val detail = Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "smoke" -> o.smoke,
      "iterations" -> batches.size, "calls_sampled" -> latencies.size,
      // not a metric: over a few calls of unlike kinds the median falls in
      // the gap between two kinds and jumps between them from run to run
      "call_p50_s" -> (if (latencies.isEmpty) 0.0 else quantile(latencies.toSeq, 0.5)),
      "batch_samples_s" -> batches.map(b => f"${b._2}%.3f${if (b._1) "t" else ""}").mkString(" "),
      "setup_parts_s" -> Seq("session" -> sessionS, "generate" -> genS, "prepare" -> prepS,
        "cold" -> coldWall, "warm" -> warmWall),
      "env" -> Seq("nproc" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "heap_committed_mb" -> heap.getCommitted / 1048576,
        "spark" -> spark.version, "sha256_st_mibs" -> st, "sha256_mt_mibs" -> mt)) ++ wl.detail
    spark.stop()
    println(Json.obj(Seq("detail" -> detail)))
    println(Json.obj(Seq(
      "correct" -> (wl.failed == 0), "attempted" -> wl.attempted, "failed" -> wl.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) })))
  }

  /** Per-layer metrics: medians over the traced iterations; a metric no
    * iteration reaches comes from the layer probes, and is 0 when neither
    * reaches it. */
  private def perLayer(p: Probe, batches: Seq[(Boolean, Double)]): Seq[(String, Double, String)] = {
    val jobs = p.jobsBySpan()
    val roots = p.spans.filter(_.parent == -1).map(r => new SpanTree(r, p.spans.toSeq, jobs))
    val (iterations, probes) = roots.partition(_.root.name == "iteration")
    def from(tree: SpanTree): Map[String, Double] = {
      val m = scala.collection.mutable.Map.empty[String, Double]
      for (n <- CallSpans ++ StepSpans if tree.has(n)) m(s"$n.s") = tree.seconds(n)
      for (n <- StepSpans if tree.has(n)) m(s"$n.jobs") = tree.jobsUnder(tree.spans.filter(_.name == n)).size
      for (g <- AnalyticsGroups if tree.has(s"analytics.$g.plan")) {
        val js = tree.jobsUnder(tree.named(s"analytics.$g"))
        m(s"analytics.$g.plan_s") = tree.seconds(s"analytics.$g.plan")
        m(s"analytics.$g.exec_s") = tree.seconds(s"analytics.$g.exec")
        m(s"analytics.$g.jobs") = js.size
        m(s"analytics.$g.shuffle_bytes") = js.map(_.shuffleWrite).sum
      }
      for (l <- Layers if tree.spans.exists(_.layer == l)) m(s"$l.self_s") = tree.layerSelf(l)
      p.notes.filter(_._1 == tree.root.id).foreach { case (_, n, v) => m(n) = v }
      if (tree.root.name == "iteration") m ++= tree.engine
      m.toMap
    }
    val it = iterations.map(from).toSeq
    val pr = probes.map(from).toSeq
    val traced = batches.filter(_._1).map(_._2)
    val untraced = batches.filterNot(_._1).map(_._2)
    val trace = Map(
      "trace.untraced_batch_s" -> median(untraced), "trace.traced_batch_s" -> median(traced),
      "trace.overhead_s" -> (median(traced) - median(untraced)))
    PerLayer.map { case (n, u) =>
      val vs = Some(it.flatMap(_.get(n))).filter(_.nonEmpty).getOrElse(pr.flatMap(_.get(n)))
      (n, trace.getOrElse(n, if (vs.isEmpty) 0.0 else median(vs)), u)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = graft.Sessions.withEngineDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("streambench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // status history is capped so the live heap after the timed phase
      // does not depend on how many iterations fit in it
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def workload(o: Opts, spark: SparkSession): Workload = o.workload match {
    case "daily_batch" => new DailyBatch(spark, o.seed, if (o.smoke) 1 else 10, o.work)
    case "curate_dedup" => new CurateDedup(Seq(
      new CurateCorpus(spark, o.seed, if (o.smoke) 500 else 5000),
      if (o.smoke) new DedupDense(spark, o.seed, 20, 8) else new DedupDense(spark, o.seed, 100, 55)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      kv.get("smoke").contains("1"), Paths.get(need("work")).toAbsolutePath)
  }
}

/** SHA-256 throughput over a 1 MiB buffer, one thread and one thread per
  * core (MiB/s): a fixed CPU yardstick recorded with every result, so
  * host drift can be told apart from code changes. */
object Yardstick {
  def sha256MiBs(threads: Int): (Double, Double) = {
    val buf = Array.fill[Byte](1 << 20)(0x5a)
    def mibs(): Double = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(buf)
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) { md.digest(buf); n += 1 }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    val st = mibs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (1 to threads).map(_ => pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = mibs()
      }))
      (st, fs.map(_.get()).sum)
    } finally pool.shutdown()
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case fs: Seq[_] if fs.forall(_.isInstanceOf[(_, _)]) => obj(fs.asInstanceOf[Seq[(String, Any)]])
    case other => str(other.toString)
  }
}
