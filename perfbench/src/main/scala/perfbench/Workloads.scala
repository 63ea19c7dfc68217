package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Backfill, SparkEntry}
import graft.datasets.DatasetBuilder
import graft.gold.{AsOfJoin, FeatureWindows}
import graft.guard.LeakageGuard
import graft.meta.Checkpoint
import graft.schema.TranscriptSchema
import graft.silver.SilverBuilder

/** The workloads. Each reads the seeded inputs run.py generated, runs one
  * untimed warm-up of its timed operations (JIT and codegen), measures for
  * `--seconds` (at least one repetition), then gates its outputs untimed.
  */
object Workloads {

  lazy val all: Map[String, Run => Outcome] = Map(
    "backfill_skew" -> backfillSkew,
    "backfill_daily" -> backfillDaily)

  val BaseEpoch = 1704067200L // 2024-01-01T00:00:00Z, where the generated data starts
  val Day = 86400L

  // slice layouts; the generated time spans (gen.py via run.py) cover them
  val SkewSlices = 4
  val SkewSliceSecs = 10 * Day
  val DailyBackfillDays = 3
  val DailyAppends = 3
  /** Conversations the feature gate samples stay below the mega size. */
  val SampleMaxTurns = 5000L
  /** Online lookups: keys per batch, and lookups per run. */
  val LookupKeys = 10
  val Lookups = 40
  val WarmLookups = 2
  /** Timed asOfAuto batches per run, after two untimed. */
  val AsOfBatches = 5
  val AsOfPayload = Seq("turn_idx", "turns_cnt_1h", "chars_sum_1h", "tool_distinct_24h", "session_id")

  /** The CLI's default skew threshold; every other knob at its default. */
  def backfill(r: Run, bronzeDir: String, out: String, start: Long, sliceSecs: Long, n: Int)
      : Seq[Backfill.SliceReport] =
    r.tracer.span("Backfill.run", "Backfill")(
      Backfill.run(r.spark, r.spark.read.parquet(bronzeDir), out, start, sliceSecs, n,
        skewHeavyThreshold = Some(10000000L)))

  private def rm(r: Run, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(r.spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** (files, bytes) under `path`, recursively, data and metadata alike. */
  def du(r: Run, path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(r.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var files, bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) files += 1
        bytes += f.getLen
      }
      (files, bytes)
    }
  }

  // ---------------------------------------------------------------- gates

  private def inRange(fromSec: Long, untilSec: Long): Column =
    unix_timestamp(col("ts")) >= fromSec && unix_timestamp(col("ts")) < untilSec

  /** `k` conversations with fewer than `maxRows` rows, in a seed-determined order. */
  private def sampleConvs(r: Run, rows: DataFrame, maxRows: Long, k: Int): Seq[String] =
    rows.groupBy(col("conv_id")).count().filter(col("count") < maxRows)
      .orderBy(xxhash64(lit(r.opts.seed), col("conv_id")))
      .limit(k).collect().map(_.getString(0)).toSeq

  /** Rows of `a` and `b` (same columns, keyed by `keys`) that differ;
    * doubles compare within 1e-9 relative.
    */
  private def mismatches(a: DataFrame, b: DataFrame, keys: Seq[String]): Long = {
    val cols = a.columns.filterNot(keys.contains)
    val j = a.select(keys.map(col) ++ cols.map(c => col(c).as(s"a_$c")) :+ lit(true).as("_a"): _*)
      .join(b.select(keys.map(col) ++ cols.map(c => col(c).as(s"b_$c")) :+ lit(true).as("_b"): _*),
        keys, "full_outer")
    val same = cols.map { c =>
      val (x, y) = (col(s"a_$c"), col(s"b_$c"))
      if (a.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
        (x.isNull && y.isNull) || (abs(x - y) <= greatest(abs(x), abs(y), lit(1.0)) * 1e-9)
      else x <=> y
    }.foldLeft(col("_a").isNotNull && col("_b").isNotNull)(_ && coalesce(_, lit(false)))
    j.filter(!same).count()
  }

  /** Gold row count equals bronze's distinct valid (conv, turn) pairs in
    * the backfilled range, and a seeded sample of non-mega conversations
    * matches the declarative SilverBuilder + FeatureWindows.gold oracle.
    */
  def gateGold(r: Run, bronzeDir: String, out: String, fromSec: Long, untilSec: Long, maxTurns: Long): Unit = {
    val bronze = r.spark.read.parquet(bronzeDir)
    val gold = r.spark.read.parquet(s"$out/gold").drop("slice_id")
    val want = SilverBuilder.validate(bronze).filter(inRange(fromSec, untilSec))
      .select(col("conv_id"), col("turn_idx")).distinct().count()
    val got = gold.count()
    r.check("gold_rows", got == want, s"gold $got rows, bronze $want pairs")
    val ids = sampleConvs(r, bronze, maxTurns, 100)
    val cols = TranscriptSchema.gold.fieldNames.toSeq
    val oracle = FeatureWindows.gold(SilverBuilder.build(bronze.filter(col("conv_id").isin(ids: _*))))
      .filter(inRange(fromSec, untilSec)).select(cols.map(col): _*)
    val bad = mismatches(gold.filter(col("conv_id").isin(ids: _*)).select(cols.map(col): _*), oracle,
      Seq("conv_id", "turn_idx"))
    r.check("gold_features_vs_oracle", bad == 0, s"$bad of the sample's rows differ")
  }

  /** Order-independent (rows, hash) of a result; used as the timed sink
    * so every column is computed, and compared across passes.
    */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col(c)): _*)
    val row = df.agg(count(lit(1)), bit_xor(h), sum(shiftright(h, 32))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1), if (row.isNullAt(2)) 0L else row.getLong(2))
  }

  // ------------------------------------------------------------ workloads

  private def bronzeOf(r: Run): (String, Long) = {
    val dir = s"${r.opts.inputs}/bronze"
    (dir, r.spark.read.parquet(dir).count())
  }

  /** Backfill-side per-layer metrics of the run's one traced rep. */
  private def backfillLayers(r: Run, tracedReports: Seq[Backfill.SliceReport], tracedRows: Long,
      out: String): mutable.Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val spans = r.tracer.spans.toList
    val bf = spans.filter(_.name == "Backfill.run")
    val bfIds = bf.map(_.id).toSet
    val jobs = spans.filter(s => bfIds(s.parent))
    val slices = math.max(tracedReports.count(!_.skipped), 1).toDouble
    m("Backfill.slice_s") = Stats.median(tracedReports.filterNot(_.skipped).map(_.wallMs / 1000.0))
    m("Backfill.driver_gap_s") = bf.map(s => s.endMs - s.startMs -
      Tracer.covered(s, jobs.filter(_.parent == s.id).map(j => (j.startMs, j.endMs)))).sum / 1000.0 / slices
    m("Backfill.jobs_per_slice") = jobs.size / slices
    m("Backfill.failed_jobs") = jobs.map(_.counters.getOrElse("failed", 0.0)).sum
    m("Checkpoint.job_s") = jobs.filter(_.layer == "Checkpoint").map(j => j.endMs - j.startMs).sum / 1000.0 / slices
    val stages = r.tracer.stageRecs.filter(s => bfIds(s.spanId)).toList
    val sweep = stages.filter(s => s.sweep && s.module == "FusedSweep" && s.taskSecs.nonEmpty)
    if (sweep.nonEmpty) {
      // pooled over every slice's sweep/write stage: a slice at this size
      // has two sweep tasks, so a per-stage median would be their mean
      val tasks = sweep.flatMap(_.taskSecs)
      m("FusedSweep.task_max_s") = tasks.max
      m("FusedSweep.task_p50_s") = Stats.median(tasks)
      m("FusedSweep.skew_ratio") = tasks.max / math.max(Stats.median(tasks), 1e-3)
      m("FusedSweep.task_s_sum") = sweep.map(_.taskSecs.sum).sum
      m("FusedSweep.spill_bytes") = sweep.map(_.spillBytes).sum
      m("FusedSweep.gc_s") = sweep.map(_.gcSecs).sum
    }
    m("exchange.shuffle_write_bytes_per_turn") = stages.map(_.shuffleWriteBytes).sum / math.max(tracedRows, 1L)
    m("exchange.fetch_wait_s") = stages.map(_.fetchWaitSecs).sum
    val (files, bytes) = du(r, s"$out/gold")
    m("FusedSweep.out_files") = files.toDouble
    m("FusedSweep.out_bytes") = bytes.toDouble
    m("Checkpoint.meta_bytes") = du(r, s"$out/_meta")._2.toDouble
    m("Checkpoint.delta_chain_len") = Checkpoint.uncompactedDeltaDirs(r.spark, out, Long.MaxValue).toDouble
    m
  }

  /** Timed checkpoint reads a resuming slice depends on. */
  private def checkpointReads(r: Run, out: String): (Double, Double) = {
    val (_, d) = Stats.time(r.tracer.span("Checkpoint.readConvStateDeltas", "Checkpoint")(
      Checkpoint.readConvStateDeltas(r.spark, out, Long.MaxValue).count()))
    val (_, w) = Stats.time(r.tracer.span("Checkpoint.readWatermarks", "Checkpoint")(
      Checkpoint.readWatermarks(r.spark, out).count()))
    (d * 1000, w * 1000)
  }

  /** `walls` are the traced run's reps (untraced, traced, untraced): the
    * overhead compares the traced rep with the untraced one after it, as
    * the first rep of a run is still the least warm.
    */
  private def commonLayers(r: Run, m: mutable.Map[String, Double], walls: Seq[Double], gc0: Double): Unit = {
    m("trace.overhead_ratio") = walls(1) / walls(2)
    m("jvm.gc_s") = Host.gcSecs - gc0
  }

  val backfillSkew: Run => Outcome = r => {
    val (bronze, turns) = bronzeOf(r)
    val start = BaseEpoch
    val until = start + SkewSlices * SkewSliceSecs
    // the first two slices hold the loops, so they run every sweep path
    r.op("warm-up backfill")(backfill(r, bronze, r.dir("warm"), start, SkewSliceSecs, 2))
    rm(r, r.dir("warm"))
    r.mark("warm-up")
    val gc0 = Host.gcSecs
    val walls, rates = mutable.ArrayBuffer[Double]()
    val tracedReports = mutable.ArrayBuffer[Backfill.SliceReport]()
    var tracedRows = 0L
    var out = ""
    // three, so the median is a rep after the first: that one is still
    // paying for JIT compilation
    val reps = r.measure(3) { rep =>
      if (out.nonEmpty) rm(r, out)
      out = r.dir(s"out$rep")
      val on = r.traced(rep)
      val (reports, s) = Stats.time(r.withTrace(on)(
        r.op("backfill")(backfill(r, bronze, out, start, SkewSliceSecs, SkewSlices))))
      val rows = reports.map(_.rows).sum
      walls += s; rates += rows / s
      if (on) { tracedReports ++= reports; tracedRows += rows }
    }
    val goldBytes = du(r, out)._2.toDouble / turns
    val layers = mutable.LinkedHashMap[String, Double]()
    if (r.opts.trace) {
      layers ++= backfillLayers(r, tracedReports.toSeq, tracedRows, out)
      val (d, w) = r.withTrace(true)(checkpointReads(r, out))
      layers("Checkpoint.read_deltas_ms") = d
      layers("Checkpoint.read_watermarks_ms") = w
      commonLayers(r, layers, walls.toSeq, gc0)
      layers("gold.bytes_per_turn") = goldBytes
    }
    r.mark(s"measured $reps backfills: ${walls.map(w => f"$w%.2f").mkString(" ")} s")
    val sv = r.withTrace(r.opts.trace)(serve(r, out, turns, layers))
    r.mark("served")
    gateGold(r, bronze, out, start, until, SampleMaxTurns)
    if (r.opts.trace && Main.Cores > 1) {
      // the paper's N -> 4N efficiency, at the one core pair this host has
      r.spark.stop()
      r.spark = Main.session(1, r.opts.work)
      r.spark.sparkContext.setLogLevel("ERROR")
      val (_, one) = Stats.time(r.op("local[1] backfill")(
        backfill(r, bronze, r.dir("one"), start, SkewSliceSecs, SkewSlices)))
      layers("scaling.eff_1to4") = one / Stats.median(walls.toSeq) / Main.Cores
    }
    Outcome(walls.toSeq, sv.lookupMs, s"10-key latestForKeys lookups", sv.reads.map(_._2),
      Seq("backfill_turns_per_s" -> (Stats.median(rates.toSeq) -> "turns/s"),
        "gold_bytes_per_turn" -> (goldBytes -> "bytes"),
        "lookup_p50_ms" -> (Stats.quantile(sv.lookupMs, 0.5) -> "ms"),
        "lookup_p75_ms" -> (Stats.quantile(sv.lookupMs, 0.75) -> "ms"),
        "asof_queries_per_s" -> (asofRate(sv.reads) -> "queries/s")) ++
        sv.buildS.map(b => "dataset_build_s" -> (b -> "s")),
      layers.toMap)
  }

  /** Two untimed and [[AsOfBatches]] timed asOfAuto batches over the gold
    * in `out` (one query per tenth turn, a minute after it), each of whose
    * digests must repeat the first one's; then a sample of the queries is
    * gated against asOfOracle. Returns each timed batch's (queries, seconds).
    */
  def asofReads(r: Run, out: String, layers: mutable.Map[String, Double]): Seq[(Long, Double)] = {
    val gold = r.spark.read.parquet(s"$out/gold").drop("slice_id")
    val queries = gold.filter(pmod(col("turn_idx"), lit(10)) === 3)
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 60 SECONDS")).as("ts"))
    // history sizes from the checkpoint state, as the production
    // dispatch reads them
    val sizes = Checkpoint.readConvStateDeltas(r.spark, out, Long.MaxValue)
      .select(col("conv_id"), (col("st_last_turn_idx") + 1L).as("count"))
    def batch() = r.tracer.span("AsOfJoin.asOfAuto", "AsOfJoin")(
      digest(AsOfJoin.asOfAuto(queries, gold, AsOfPayload, convSizes = Some(sizes))))
    val warm = r.op("warm-up as-of")(batch())
    r.op("warm-up as-of")(batch())
    val timed = (1 to AsOfBatches).map { _ =>
      r.settle()
      val (d, s) = Stats.time(r.op("as-of batch")(batch()))
      r.check("asof_digest", d == warm, s"$d after $warm")
      (d._1, s)
    }
    if (r.opts.trace) layers("AsOfJoin.asof_s") = Stats.median(timed.map(_._2))
    r.mark(s"as-of batches: ${timed.map(t => f"${t._2}%.3f").mkString(" ")} s")
    val ids = sampleConvs(r, queries, SampleMaxTurns / 10, 25)
    val qs = queries.filter(col("conv_id").isin(ids: _*))
    val got = AsOfJoin.asOfAuto(qs, gold, AsOfPayload, convSizes = Some(sizes))
    val want = AsOfJoin.asOfOracle(qs, gold.filter(col("conv_id").isin(ids: _*)), AsOfPayload)
    val bad = got.exceptAll(want).count() + want.exceptAll(got).count()
    r.check("asof_vs_oracle", bad == 0 && got.count() > 0, s"$bad rows differ")
    r.mark("as-of gated")
    timed
  }

  /** Median queries per second of the timed as-of batches. */
  private def asofRate(reads: Seq[(Long, Double)]): Double = Stats.median(reads.map { case (q, s) => q / s })

  /** What serving measured; the dataset build only in traced runs. */
  final case class Served(lookupMs: Seq[Double], reads: Seq[(Long, Double)], buildS: Option[Double])

  /** Point-in-time serving over the gold a backfill wrote: as-of batches
    * ([[asofReads]]), one closed-loop client making sequential 10-key
    * latestForKeys lookups and, in traced runs, DatasetBuilder.writeAll,
    * each after an untimed warm-up.
    */
  def serve(r: Run, out: String, turns: Long, layers: mutable.Map[String, Double]): Served = {
    val spark = r.spark
    val reads = asofReads(r, out, layers)
    val gold = spark.read.parquet(s"$out/gold").drop("slice_id")
    val convIds = gold.select(col("conv_id")).distinct().orderBy(col("conv_id"))
      .collect().map(_.getString(0))
    val rng = new scala.util.Random(r.opts.seed)
    val planMs, execMs = mutable.ArrayBuffer[Double]()
    var filesScanned = 0.0
    def lookup(): Unit = {
      val keys = Seq.fill(LookupKeys)(convIds(rng.nextInt(convIds.length))).distinct
      import spark.implicits._
      val got = r.tracer.span("AsOfJoin.latestForKeys", "AsOfJoin") {
        val t0 = System.nanoTime()
        val df = AsOfJoin.latestForKeys(gold, keys.toDF("conv_id"))
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        // the rows themselves: collecting a projection of df would run
        // another plan and leave df's scan metrics unset
        val got = df.collect().map(_.getAs[String]("conv_id"))
        planMs += (t1 - t0) / 1e6; execMs += (System.nanoTime() - t1) / 1e6
        if (r.tracer.enabled) filesScanned = Plans.filesRead(df)
        got
      }
      r.check("lookup_keys", got.sorted.toSeq == keys.sorted, s"${got.length} rows for ${keys.size} keys")
    }
    def build(dir: String): Unit = {
      r.tracer.span("DatasetBuilder.writeAll", "DatasetBuilder")(
        DatasetBuilder.writeAll(gold, dir, s"bench-${r.opts.seed}"))
      val meta = spark.read.json(s"$dir/metadata").head()
      r.check("dataset_rows", meta.getAs[Long]("train_rows") + meta.getAs[Long]("validation_rows") == turns,
        s"train+validation != $turns gold rows")
      rm(r, dir)
    }
    r.settle()
    (1 to WarmLookups).foreach(_ => r.op("warm-up lookup")(lookup()))
    planMs.clear(); execMs.clear()
    val lookupMs = (1 to Lookups).map(_ => Stats.time(r.op("lookup")(lookup()))._2 * 1000)
    // the dataset build (a cold and a warm one) fits only the traced run's budget
    var buildS: Option[Double] = None
    if (r.opts.trace) {
      r.op("warm-up build")(build(r.dir("ds0")))
      val (_, b) = Stats.time(r.op("dataset build")(build(r.dir("ds1"))))
      buildS = Some(b)
      val (files, bytes) = du(r, s"$out/gold")
      layers("FusedSweep.out_files") = files.toDouble
      layers("FusedSweep.out_bytes") = bytes.toDouble
      layers("AsOfJoin.lookup_plan_ms") = Stats.median(planMs.toSeq)
      layers("AsOfJoin.lookup_exec_ms") = Stats.median(execMs.toSeq)
      layers("AsOfJoin.files_scanned") = filesScanned
      // writeAll's steps, timed one by one through the public entry
      // points; trainValidation runs the leakage check itself, so
      // train_valid_s includes leakage_check_s
      val dir = r.dir("parts")
      val (_, lk) = Stats.time(LeakageGuard.validate(DatasetBuilder.withLabels(gold), DatasetBuilder.labelCols))
      val (_, tv) = Stats.time {
        val (t, v) = DatasetBuilder.trainValidation(gold)
        t.write.mode("overwrite").parquet(s"$dir/train"); v.write.mode("overwrite").parquet(s"$dir/validation")
      }
      val (_, inf) = Stats.time(DatasetBuilder.inference(gold).write.mode("overwrite").parquet(s"$dir/inference"))
      // the metadata step as writeAll makes it: count each output back, write one JSON row
      val (_, meta) = Stats.time {
        import spark.implicits._
        def rows(part: String) = spark.read.parquet(s"$dir/$part").count()
        Seq(("steps", rows("train"), rows("validation"), rows("inference"), 80))
          .toDF("run_id", "train_rows", "validation_rows", "inference_rows", "train_pct")
          .coalesce(1).write.mode("overwrite").json(s"$dir/metadata")
      }
      layers("DatasetBuilder.leakage_check_s") = lk
      layers("DatasetBuilder.train_valid_s") = tv
      layers("DatasetBuilder.inference_s") = inf
      layers("DatasetBuilder.meta_s") = meta
      rm(r, dir)
    }
    Served(lookupMs, reads, buildS)
  }

  val backfillDaily: Run => Outcome = r => {
    val (bronze, _) = bronzeOf(r)
    val start = BaseEpoch
    val appendsFrom = start + DailyBackfillDays * Day
    val until = appendsFrom + DailyAppends * Day
    r.op("warm-up backfill")(backfill(r, bronze, r.dir("warm"), start, Day, DailyBackfillDays))
    r.op("warm-up append")(backfill(r, bronze, r.dir("warm"), appendsFrom, Day, 1))
    rm(r, r.dir("warm"))
    r.mark("warm-up")
    val gc0 = Host.gcSecs
    val walls, rates, appends = mutable.ArrayBuffer[Double]()
    val tracedReports = mutable.ArrayBuffer[Backfill.SliceReport]()
    var tracedRows = 0L
    var out = ""
    var gold = 0L
    // each round: a backfill of one-day slices, then scheduled one-slice
    // appends on the same output
    val reps = r.measure(3) { rep =>
      if (out.nonEmpty) rm(r, out)
      out = r.dir(s"out$rep")
      val on = r.traced(rep)
      r.withTrace(on) {
        val (reports, s) = Stats.time(
          r.op("backfill")(backfill(r, bronze, out, start, Day, DailyBackfillDays)))
        val rows = reports.map(_.rows).sum
        walls += s; rates += rows / s
        val more = (0 until DailyAppends).map { i =>
          val (rep1, a) = Stats.time(r.op("append")(
            backfill(r, bronze, out, appendsFrom + i * Day, Day, 1)))
          appends += a * 1000
          rep1
        }
        gold = rows + more.flatten.map(_.rows).sum
        if (on) { tracedReports ++= reports ++ more.flatten; tracedRows += gold }
      }
    }
    val goldBytes = du(r, out)._2.toDouble / gold
    val layers = mutable.LinkedHashMap[String, Double]()
    if (r.opts.trace) {
      layers ++= backfillLayers(r, tracedReports.toSeq, tracedRows, out)
      val (d, w) = r.withTrace(true)(checkpointReads(r, out))
      layers("Checkpoint.read_deltas_ms") = d
      layers("Checkpoint.read_watermarks_ms") = w
      commonLayers(r, layers, walls.toSeq, gc0)
      layers("gold.bytes_per_turn") = goldBytes
    }
    r.mark(s"measured $reps rounds: backfill ${walls.map(w => f"$w%.2f").mkString(" ")} s, " +
      s"appends ${appends.map(a => f"${a / 1000}%.2f").mkString(" ")} s")
    val reads = r.withTrace(r.opts.trace)(asofReads(r, out, layers))
    r.mark("read")
    gateGold(r, bronze, out, start, until, SampleMaxTurns)
    // the only traced pass over dedup, text and ann: a warm pass of the
    // suite costs more than an untraced run can spend
    if (r.opts.trace) suiteLayers(r, layers)
    Outcome(walls.toSeq, appends.toSeq, s"scheduled one-day appends over $reps rounds", reads.map(_._2),
      Seq("backfill_turns_per_s" -> (Stats.median(rates.toSeq) -> "turns/s"),
        "append_slice_s" -> (Stats.median(appends.toSeq) / 1000 -> "s"),
        "gold_bytes_per_turn" -> (goldBytes -> "bytes"),
        "asof_queries_per_s" -> (asofRate(reads) -> "queries/s")),
      layers.toMap)
  }

  /** The engine module each query exercises. */
  val QueryModule: Map[String, String] = Map(
    "q1_silver_dedup" -> "SilverBuilder", "q2_window_features" -> "FeatureWindows",
    "q3_lag_gap" -> "FeatureWindows", "q4_sessionize" -> "FeatureWindows",
    "q5_asof_join" -> "AsOfJoin", "q6_latest_per_key" -> "AsOfJoin",
    "q7_train_split" -> "sources", "q8_tumbling_hourly" -> "sources",
    "q9_dedup_exact" -> "dedup", "q10_ngram_jaccard" -> "dedup", "q11_text_stats" -> "text",
    "q12_lang_id" -> "text", "q13_fingerprint" -> "text", "q14_minhash_dedup" -> "dedup",
    "q15_simhash_dedup" -> "dedup", "q16_embed_neardup" -> "ann", "q17_ann_topk" -> "ann",
    "q18_ann_lsh" -> "ann", "q19_session_stats" -> "FeatureWindows", "q20_conv_stats" -> "sources")

  /** The q1-q20 suite over the seeded suite tables: one untimed cold
    * pass, then one traced pass; each query's result digest must match
    * between the two. Adds `q<N>.s` and `suite.<module>_s`.
    */
  def suiteLayers(r: Run, layers: mutable.Map[String, Double]): Unit = {
    val dir = s"${r.opts.inputs}/tables"
    // the tables are the seed's; the seed also fixes the query order
    val order = new scala.util.Random(r.opts.seed).shuffle(SparkEntry.queries.keys.toSeq.sorted)
    def pass(): Seq[(String, (Long, Long, Long), Double)] = order.map { q =>
      val (d, t) = Stats.time(r.tracer.span(s"q.$q", QueryModule(q))(
        r.op(q)(digest(SparkEntry.queries(q)(r.spark, dir)))))
      r.spark.catalog.clearCache()
      (q, d, t)
    }
    val cold = pass().map { case (q, d, _) => q -> d }.toMap
    r.withTrace(true)(pass()).foreach { case (q, d, t) =>
      r.check(s"$q digest", d == cold(q), s"$d after ${cold(q)}")
      layers(s"${q.takeWhile(_ != '_')}.s") = t
      layers(s"suite.${QueryModule(q)}_s") = layers.getOrElse(s"suite.${QueryModule(q)}_s", 0.0) + t
    }
  }
}

object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Files the executed plan's parquet scans read. */
  def filesRead(df: DataFrame): Double =
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
    }.sum
}
