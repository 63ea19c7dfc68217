package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark jobs each call ran. Jobs become child spans whose layer is the
  * engine module at their call site, so a layer's self time is its
  * span time not covered by its children (for a `Backfill.run` span:
  * the driver gap between jobs).
  *
  * Spans live in memory; [[Tracer.json]] renders them once at the end.
  * When disabled, [[span]] only runs its body.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var listener: Option[LayerListener] = None

  def enabled: Boolean = listener.isDefined

  def enable(): Unit = if (listener.isEmpty) {
    val l = new LayerListener(this)
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def disable(): Unit = listener.foreach { l =>
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(l)
    stageRecs ++= l.stageRecs
    listener = None
  }

  /** Runs `f` inside a span named `name`, charged to `layer`. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = synchronized {
        val sp = Span(nextId, stack.headOption.map(_.id).getOrElse(0), name, layer, nowMs)
        nextId += 1
        spans += sp
        sp
      }
      val outer = sc.getLocalProperty(Tracer.SpanProp)
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try f
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, outer)
      }
    }

  /** Adds a job as a child span of the span it was submitted under. */
  private[perfbench] def addJob(parent: Int, layer: String, name: String,
      startMs: Double, endMs: Double, counters: Map[String, Double]): Unit = synchronized {
    spans += Span(nextId, parent, name, layer, startMs, endMs, counters)
    nextId += 1
  }

  def layerOf(spanId: Int): Option[String] = synchronized(spans.find(_.id == spanId).map(_.layer))

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer, in seconds.
    */
  def selfSeconds: Map[String, Double] = {
    val all = synchronized(spans.toList).filterNot(_.endMs.isNaN)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endMs - s.startMs - Tracer.covered(s,
        kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)))) / 1000.0).sum
    }
  }

  /** Stage records of every traced interval, complete after [[disable]]. */
  val stageRecs = mutable.ArrayBuffer[StageRec]()

  /** The whole trace as one JSON object, with `metrics` appended. */
  def json(metrics: Seq[(String, Double)]): String = {
    val all = synchronized(spans.toList)
    import Json.num
    val spanJs = all.map { s =>
      val cs = s.counters.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)},"counters":{$cs}}"""
    }
    val self = selfSeconds.toSeq.sortBy(_._1)
      .map { case (l, v) => s"${Json.str(l)}:${num(v)}" }.mkString(",")
    val stageJs = stageRecs.toList.sortBy(_.stageId).map { st =>
      val t = st.taskSecs
      s"""{"stage":${st.stageId},"job":${st.jobId},"span":${st.spanId},"module":${Json.str(st.module)},""" +
        s""""sweep":${st.sweep},"tasks":${t.size},"task_max_s":${num(if (t.isEmpty) 0 else t.max)},""" +
        s""""task_p50_s":${num(Stats.median(t))},"task_s":${num(t.sum)},"gc_s":${num(st.gcSecs)},""" +
        s""""spill_bytes":${num(st.spillBytes)},"shuffle_write_bytes":${num(st.shuffleWriteBytes)},""" +
        s""""fetch_wait_s":${num(st.fetchWaitSecs)},"out_bytes":${num(st.outBytes)},"sites":${Json.str(st.sites)}}"""
    }
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString(",")
    s"""{"spans":[${spanJs.mkString(",\n")}],\n"stages":[${stageJs.mkString(",\n")}],\n""" +
      s""""self_s":{$self},\n"metrics":{$ms}}\n"""
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      startMs: Double, var endMs: Double = Double.NaN, counters: Map[String, Double] = Map.empty)

  val SpanProp = "perfbench.span"
  val SweepSite = "^(zip|map)Partitions at (Fused|Segmented)Sweep\\.scala".r

  /** Length of the part of [s.start, s.end] covered by `ivs`. */
  def covered(s: Span, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Engine modules, most specific first, keyed by source file. */
  val Modules: Seq[(String, Seq[String])] = Seq(
    "FusedSweep" -> Seq("FusedSweep.scala", "StateSideFiles.scala"),
    "SegmentedSweep" -> Seq("SegmentedSweep.scala"),
    "AsOfJoin" -> Seq("AsOfJoin.scala"),
    "DatasetBuilder" -> Seq("DatasetBuilder.scala", "LeakageGuard.scala"),
    "dedup" -> Seq("Dedup.scala"),
    "ann" -> Seq("Similarity.scala", "VecDot.scala"),
    "text" -> Seq("TextAnalysis.scala"),
    "FeatureWindows" -> Seq("FeatureWindows.scala", "FastWindows.scala"),
    "SilverBuilder" -> Seq("SilverBuilder.scala"),
    "Checkpoint" -> Seq("Checkpoint.scala"),
    "Backfill" -> Seq("Backfill.scala"))

  /** The engine module that created a stage: the first module (in
    * [[Modules]] order) named by one of its RDDs' creation sites, else
    * the innermost engine frame of the stage's call stack.
    */
  def moduleOf(rddSites: Seq[String], details: String): Option[String] = {
    def mods(site: String) = Modules.collect { case (m, files) if files.exists(site.contains) => m }
    val fromRdds = rddSites.flatMap(mods).toSet
    Modules.map(_._1).find(fromRdds.contains).orElse(
      details.split('\n').iterator.filter(_.contains("graft.")).map(mods).find(_.nonEmpty).map(_.head))
  }
}

/** Per-stage task statistics, attributed to a module. */
final case class StageRec(stageId: Int, jobId: Int, spanId: Int, module: String, sweep: Boolean,
    taskSecs: Seq[Double], gcSecs: Double, spillBytes: Double, shuffleWriteBytes: Double,
    fetchWaitSecs: Double, outBytes: Double, sites: String)

/** Collects job and stage events into the tracer. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  import LayerListener._

  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val done = new ConcurrentHashMap[Int, StageRec]()

  def stageRecs: Seq[StageRec] = done.values.asScala.toSeq.sortBy(_.stageId)

  private def siteModule(si: StageInfo): Option[String] =
    Tracer.moduleOf(si.rddInfos.map(_.callSite), si.details)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    val mod = e.stageInfos.flatMap(siteModule).headOption
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobInfo(span, e.time.toDouble, e.stageIds, mod))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = accs.computeIfAbsent(e.stageId, _ => new Acc)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += e.taskInfo.duration / 1000.0
      if (m != null) {
        a.gc += m.jvmGCTime / 1000.0
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.shw += m.shuffleWriteMetrics.bytesWritten
        a.fetch += m.shuffleReadMetrics.fetchWaitTime / 1000.0
        a.outB += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val jobId = stageJob.getOrDefault(si.stageId, -1)
    val job = Option(jobs.get(jobId))
    val a = Option(accs.remove(si.stageId)).getOrElse(new Acc)
    val layer = parentLayer(job.map(_.spanId).getOrElse(0))
    val mod = siteModule(si).orElse(job.flatMap(_.module)).getOrElse(layer)
    // the stage that runs the sweep operator itself (its RDD was made by
    // the sweep's zip/mapPartitions), as opposed to the exchange feeding it
    val sweep = si.rddInfos.exists(r => Tracer.SweepSite.findFirstIn(r.callSite).isDefined)
    done.put(si.stageId, StageRec(si.stageId, jobId, job.map(_.spanId).getOrElse(0), mod, sweep,
      a.tasks.toSeq, a.gc, a.spill, a.shw, a.fetch, a.outB, si.rddInfos.map(_.callSite).distinct.mkString(" | ")))
  }

  private def parentLayer(spanId: Int): String = tracer.layerOf(spanId).getOrElse("bench")

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId)).foreach { j =>
    val st = j.stageIds.flatMap(s => Option(done.get(s)))
    val layer = j.module.orElse(st.map(_.module).headOption).getOrElse(parentLayer(j.spanId))
    val failed = e.jobResult match { case JobSucceeded => 0.0; case _ => 1.0 }
    tracer.addJob(j.spanId, layer, s"job ${e.jobId}", j.startMs, e.time.toDouble, Map(
      "failed" -> failed,
      "tasks" -> st.map(_.taskSecs.size).sum.toDouble,
      "task_s" -> st.map(_.taskSecs.sum).sum,
      "gc_s" -> st.map(_.gcSecs).sum,
      "spill_bytes" -> st.map(_.spillBytes).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum,
      "fetch_wait_s" -> st.map(_.fetchWaitSecs).sum,
      "out_bytes" -> st.map(_.outBytes).sum))
  }
}

object LayerListener {
  private final case class JobInfo(spanId: Int, startMs: Double, stageIds: Seq[Int], module: Option[String])
  private final class Acc {
    val tasks = mutable.ArrayBuffer[Double]()
    var gc, spill, shw, fetch, outB = 0.0
  }
}

object Json {
  /** A number with all its digits; null for NaN or infinity. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
