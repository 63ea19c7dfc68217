package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --inputs <dir>`.
  *
  * Runs one workload in this JVM at `local[<cores>]`, gates its outputs,
  * and prints one JSON object as the last stdout line: the gate counts and
  * the measured values by name. With `--trace 0` the values are the
  * end-to-end ones; with `--trace 1` the per-layer ones, from spans and a
  * Spark listener, and the whole trace is written to
  * `<work>/../traces/<workload>-<seed>.json`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      inputs: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("inputs"))
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; have ${Workloads.all.keys.mkString(", ")}"))
    // deep call-site stacks, so stages can be attributed to the engine
    // module that created them
    System.setProperty("spark.callstack.depth", "200")
    val spark = session(Cores, o.work)
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, o)
    val ctl = Host.controls()
    run.mark("host controls")
    val out = wl(run)
    run.mark("gated")
    run.spark.stop()

    val e2e = Seq(
      "build_s" -> Stats.median(out.buildSecs),
      "latency_p50_ms" -> Stats.quantile(out.latencyMs, 0.5),
      "latency_p75_ms" -> Stats.quantile(out.latencyMs, 0.75),
      "read_s" -> Stats.median(out.readSecs))
    val failRatio = run.failed.toDouble / math.max(run.attempted, 1)

    // human-readable lines: the workload's own metric names, the host
    // controls, and the sample counts behind each median and percentile
    val rssMb = Host.peakRssMb
    (out.named ++ Seq("peak_rss_mb" -> (rssMb -> "MB"), "fail_ratio" -> (failRatio -> "ratio"))).foreach {
      case (k, (v, u)) => println(f"[perfbench] ${o.workload} $k%-24s $v%14.4f $u")
    }
    println(f"[perfbench] ${o.workload} host.cpu_ctl ${ctl._1}%.1f Mop/s host.dram_ctl ${ctl._2}%.2f GB/s " +
      s"builds=${out.buildSecs.size} latency_samples=${out.latencyMs.size} (${out.latencyWhat}) " +
      s"reads=${out.readSecs.size}")
    run.failures.foreach(f => println(s"[perfbench] FAILED $f"))

    // run.py names and units these from BENCHMARK.json; a traced run
    // reports every per-layer figure it measured
    val values =
      if (!o.trace) e2e
      else {
        val measured = run.tracer.selfSeconds.toSeq.sortBy(_._1).map { case (l, v) => s"self_s.$l" -> v } ++
          out.layers.toSeq ++
          Seq("jvm.peak_rss_mb" -> rssMb, "host.cpu_ctl" -> ctl._1, "host.dram_ctl" -> ctl._2)
        val path = new java.io.File(new java.io.File(o.work).getParentFile, s"traces/${o.workload}-${o.seed}.json")
        path.getParentFile.mkdirs()
        val w = new java.io.PrintWriter(path)
        try w.write(run.tracer.json(measured))
        finally w.close()
        System.err.println(s"[perfbench] trace written to $path")
        measured
      }
    val vs = values.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""values":{${vs.mkString(",")}}}""")
  }
}

/** What a workload reports besides the gate counts. */
final case class Outcome(
    buildSecs: Seq[Double],
    latencyMs: Seq[Double],
    latencyWhat: String,
    readSecs: Seq[Double],
    named: Seq[(String, (Double, String))],
    layers: Map[String, Double])

/** Per-run state shared by the workloads: the session, tracer and the
  * operation / gate accounting behind `fail_ratio`.
  */
final class Run(var spark: SparkSession, val opts: Main.Opts) {
  val tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def dir(name: String): String = s"${opts.work}/$name"

  private val born = System.nanoTime()
  /** Logs how far into the run a phase ended (stderr). */
  def mark(phase: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $phase")

  /** Counts one timed operation; a throw counts as a failure and is rethrown. */
  def op[A](what: String)(f: => A): A = {
    attempted += 1
    try f
    catch { case e: Throwable => failed += 1; failures += s"$what: $e"; throw e }
  }

  /** Counts one correctness check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"check $what $detail" }
  }

  /** Calls `body(rep)` until `seconds` have elapsed, at least `min` times;
    * a traced run makes exactly `min` reps, so its trace covers fixed work.
    */
  def measure(min: Int)(body: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < min || (!opts.trace && (System.nanoTime() - t0) / 1e9 < opts.seconds)) {
      settle(); body(rep); rep += 1
    }
    rep
  }

  /** Lets the previous rep's lazy clean-up finish (Spark's context cleaner
    * drops shuffle files and broadcasts once their references are
    * collected), so it does not land inside the next timed rep.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(100)
  }

  /** In a traced run, reps alternate untraced / traced, so the trace's
    * overhead is the ratio of their walls.
    */
  def traced(rep: Int): Boolean = opts.trace && rep % 2 == 1

  def withTrace[A](on: Boolean)(f: => A): A =
    if (!on) f else { tracer.enable(); try f finally tracer.disable() }
}

object Stats {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Host drift controls and process counters. */
object Host {

  /** (pure-CPU Mop/s, DRAM-streaming GB/s), summed over one thread per
    * core, each the best of 3 short runs: contention from other tenants and
    * a host swing show in these before they show in the engine numbers.
    */
  def controls(): (Double, Double) = {
    def onAllCores(work: () => Double): Double = {
      val out = new Array[Double](Main.Cores)
      val ts = (0 until Main.Cores).map(i => new Thread(() => out(i) = work()))
      ts.foreach(_.start()); ts.foreach(_.join())
      out.sum
    }
    val cpu = () => {
      val n = 20000000L
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      val s = (System.nanoTime() - t0) / 1e9
      if (x == 42) println("")
      n / s / 1e6
    }
    // 64 MB per thread, well past any shared cache
    val arrays = Array.fill(Main.Cores)(new Array[Long](8 * 1024 * 1024))
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val dram = () => {
      val arr = arrays(next.getAndIncrement() % arrays.length)
      val t0 = System.nanoTime()
      var sum = 0L
      var i = 0
      while (i < arr.length) { sum += arr(i); arr(i) = sum; i += 1 }
      val s = (System.nanoTime() - t0) / 1e9
      2.0 * arr.length * 8 / s / 1e9
    }
    ((1 to 3).map(_ => onAllCores(cpu)).max, (1 to 3).map(_ => onAllCores(dram)).max)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def gcSecs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}
