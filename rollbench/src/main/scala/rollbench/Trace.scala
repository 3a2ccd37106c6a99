package rollbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.rollbench.Drain

import scala.collection.mutable

/** Per-layer tracing for the `--trace 1` run. It adds nothing to the
  * engine: it observes the engine from outside, three ways.
  *
  *  1. Spans the benchmark records around each call it makes into a
  *     layer's public function ([[span]]).
  *  2. A [[SparkListener]] that records every job and stage with its
  *     task counters and attributes it to a layer by the call site
  *     Spark already records for each job (the innermost `graft.*`
  *     frame) and, for tier writes, by the table the SQL execution
  *     writes into.
  *  3. A sampler of the driver thread's stack (every 10 ms while an op
  *     runs): a sample that is not waiting on Spark goes to the layer
  *     of the innermost `graft.*` frame; a waiting sample goes to the
  *     layer of the job running at that instant. The samples give each
  *     layer's self time: its span minus the spans of its children.
  */
final class Tracer(spark: SparkSession, driver: Thread) extends SparkListener {
  import Tracer._

  final class JobRec(val id: Int, val startMs: Long, val execId: Long,
      val frames: Seq[String], val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class StageRec(val id: Int) {
    var submitMs = 0L; var doneMs = 0L; var runMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var recordsIn = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    def wallS: Double = math.max(0L, doneMs - submitMs) / 1e3
  }

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.Map[Int, StageRec]()
  // SQL execution id -> (physical plan, graft frames of its call site)
  private val execs = mutable.Map[Long, (String, Seq[String])]()

  private def graftFrames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim).filter(_.startsWith("graft."))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.physicalPlanDescription, graftFrames(s.details))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    // adaptive query stages are submitted from a pool thread: their own
    // call site is Spark's, the execution's is the caller's
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val frames = graftFrames(site) match {
      case Seq() => execs.get(execId).map(_._2).getOrElse(Seq.empty)
      case own => own
    }
    jobs += new JobRec(e.jobId, e.time, execId, frames, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      stageRec(e.stageId).taskMs += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = stageRec(i.stageId)
    r.submitMs = i.submissionTime.getOrElse(0L)
    r.doneMs = i.completionTime.getOrElse(r.submitMs)
    val m = i.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.diskBytesSpilled
      r.recordsIn += m.inputMetrics.recordsRead
    }
  }

  private def stageRec(id: Int): StageRec =
    stages.getOrElseUpdate(id, new StageRec(id))

  // ---- spans recorded by the benchmark around its calls into layers
  private val spanTotals = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val spanLists = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  /** Spans and counts are recorded only in the timed phase. */
  @volatile var recording = false

  def span[A](name: String)(body: => A): A = if (!recording) body else {
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      spanTotals(name) += s
      spanLists.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
    }
  }
  def spanTotal(name: String): Double = spanTotals(name)
  def spanMedian(name: String): Double =
    spanLists.get(name).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
  def count(name: String, n: Double): Unit = if (recording) spanTotals(name) += n

  // ---- driver-thread stack sampler; a sample weighs the time since the
  // previous one, so slow stack walks do not drop time
  private final case class Sample(ms: Long, weightMs: Long, layer: String, waiting: Boolean)
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  @volatile private var sampling = false
  @volatile private var lastSampleMs = 0L
  private val sampleMs = 10L
  private val sampler = new Thread(() => {
    while (true) {
      if (sampling) {
        val st = driver.getStackTrace
        val now = System.currentTimeMillis()
        samples.add(classify(st, now, now - lastSampleMs))
        lastSampleMs = now
      }
      Thread.sleep(sampleMs)
    }
  }, "rollbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  private def classify(st: Array[StackTraceElement], now: Long, weightMs: Long): Sample = {
    val waiting = st.nonEmpty && {
      val top = st(0)
      (top.getClassName == "jdk.internal.misc.Unsafe" && top.getMethodName == "park") ||
        (top.getClassName == "java.lang.Object" && top.getMethodName == "wait")
    }
    // Spark frames above the innermost graft frame: driver-side Spark
    // work (planning, scheduling) that layer asked for
    val inner = st.indexWhere(_.getClassName.startsWith("graft."))
    val layer =
      if (waiting) "spark"
      else if (st.take(if (inner < 0) st.length else inner)
          .exists(_.getClassName.startsWith("org.apache.spark"))) "spark"
      else if (inner < 0) "bench"
      else frameLayer(st(inner))
    Sample(now, weightMs, layer, waiting)
  }

  // ---- per-op accounting
  private final case class Op(kind: String, startMs: Long, endMs: Long)
  private val ops = mutable.ArrayBuffer[Op]()
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val skews = mutable.ArrayBuffer[Double]()

  private var opStartMs = 0L

  /** An op starts: the sampler runs until [[end]]. */
  def begin(): Unit = {
    opStartMs = System.currentTimeMillis()
    lastSampleMs = opStartMs
    sampling = true
  }

  /** An op ended: drain the listener bus and fold the op's jobs, stages
    * and samples into the totals. `actionLayer` names the layer of jobs
    * the benchmark itself triggers inside the op (a stitch collect, a
    * query's noop write). */
  def end(kind: String, actionLayer: String): Unit = {
    sampling = false
    val endMs = System.currentTimeMillis()
    Drain(spark.sparkContext)
    fold(Op(kind, opStartMs, endMs), actionLayer)
  }

  private def fold(o: Op, actionLayer: String): Unit = synchronized {
    ops += o
    val opJobs = jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs).toSeq
    val jobLayer = opJobs.map(j => j.id -> jobClass(j, actionLayer)).toMap
    acc("spark.jobs") += opJobs.size
    if (o.kind.startsWith("query.")) acc("query.jobs") += opJobs.size
    // planning: op start to the first job that computes or writes a tier
    opJobs.filter(j => jobLayer(j.id).startsWith("tier."))
      .map(_.startMs).sorted.headOption
      .foreach(first => acc("jobs.plan_s") += (first - o.startMs) / 1e3)
    var longest: Option[StageRec] = None
    opJobs.foreach { j =>
      val cls = jobLayer(j.id)
      val writeStage = if (cls.startsWith("tier.")) lastWriteStage(j, opJobs) else None
      j.stageIds.flatMap(stages.get).filter(_.doneMs > 0).foreach { s =>
        acc(s"input_rows.${o.kind}") += s.recordsIn
        acc("spark.shuffle_write_bytes") += s.shuffleWrite
        acc("spark.shuffle_read_bytes") += s.shuffleRead
        acc("spark.spill_bytes") += s.spill
        acc("spark.task_time_s") += s.runMs / 1e3
        if (longest.forall(_.wallS < s.wallS)) longest = Some(s)
        val metric = cls match {
          case "ingest" => acc("ingest.rows_scanned") += s.recordsIn; Some("ingest.scan_s")
          case _ if writeStage.contains(s.id) => Some("table.write_s")
          case "tier.1m" => Some("rollup.agg_1m_s")
          case "tier.1h" | "tier.1d" => Some("rollup.cascade_s")
          case "tier.blocks_1h" => Some("codec.blocks_s")
          case _ => None
        }
        metric.foreach(acc(_) += s.wallS)
      }
    }
    longest.foreach { s =>
      val t = s.taskMs.toSeq
      if (t.nonEmpty) skews += t.max.toDouble / math.max(1.0, Stats.median(t.map(_.toDouble)))
    }
    // op wall time with no Spark job running
    val ivs = opJobs.map(j => (j.startMs, if (j.endMs < 0) o.endMs else j.endMs)).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    acc("spark.driver_gap_s") += math.max(0L, (o.endMs - o.startMs) - covered) / 1e3
    // self time: a non-waiting sample goes to its frame's layer, a
    // waiting one to the layer of the job running at that instant
    var s = samples.poll()
    while (s != null) {
      val layer =
        if (!s.waiting) s.layer
        else opJobs.filter(j => j.startMs <= s.ms && (j.endMs < 0 || j.endMs >= s.ms))
          .lastOption.map(j => moduleOf(jobLayer(j.id))).getOrElse("spark")
      acc(s"self.${layer}_s") += s.weightMs / 1e3
      s = samples.poll()
    }
  }

  /** The stage that writes a tier's files: the result stage of the
    * last job of the same SQL execution. Earlier stages and jobs
    * (aggregation, range sampling) compute the tier. */
  private def lastWriteStage(j: JobRec, opJobs: Seq[JobRec]): Option[Int] = {
    val last = opJobs.filter(_.execId == j.execId).maxBy(_.id)
    if (last.id == j.id) Some(j.stageIds.max) else None
  }

  private val tierWrite = "/(rollup_1m|rollup_1h|rollup_1d|blocks_1h)/data/stage-".r

  private def jobClass(j: JobRec, actionLayer: String): String = {
    val inner = j.frames.headOption.getOrElse("")
    if (inner.startsWith("graft.table.SnapshotTable.stageWriteInto")) {
      tierWrite.findFirstMatchIn(execs.get(j.execId).map(_._1).getOrElse("")) match {
        case Some(m) => "tier." + m.group(1).stripPrefix("rollup_")
        case None => "table"
      }
    } else if (inner.startsWith("graft.jobs.RollupJob.run")) "ingest"
    else if (inner.nonEmpty) frameLayer(inner)
    else actionLayer
  }

  /** Metrics of the traced run. `ops` is the number of timed ops;
    * every figure is per op unless its name says otherwise. */
  def metrics(nOps: Int): Map[String, Double] = synchronized {
    val n = math.max(1, nOps).toDouble
    val perOp = Seq("jobs.plan_s", "ingest.scan_s", "ingest.rows_scanned",
      "rollup.agg_1m_s", "rollup.cascade_s", "codec.blocks_s", "table.write_s",
      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
      "spark.task_time_s", "spark.driver_gap_s")
    val base = perOp.map(k => k -> acc(k) / n).toMap ++ Map(
      "spark.jobs_per_op" -> acc("spark.jobs") / n,
      "spark.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq)),
      "table.footer_s" -> acc("self.table.footer_s") / n,
      "table.manifest_s" -> acc("self.table.manifest_s") / n,
      "state.read_s" -> acc("self.state.read_s") / n,
      "state.commit_s" -> acc("self.state.commit_s") / n)
    val selfByModule = acc.toSeq.collect { case (k, v) if k.startsWith("self.") =>
      val m = moduleOf(k.stripPrefix("self.").stripSuffix("_s"))
      (if (Modules.contains(m)) m else "operators") -> v
    }.groupMapReduce(_._1)(_._2)(_ + _)
    base ++ Modules.map(m => s"self.${m}_s" -> selfByModule.getOrElse(m, 0.0) / n)
  }

  def queryJobs: Double = acc("query.jobs")

  /** Input rows read by the stages of ops of one kind, per op. */
  def inputRows(kind: String): Double = synchronized {
    val n = ops.count(_.kind == kind)
    if (n == 0) 0.0 else acc(s"input_rows.$kind") / n
  }
}

object Tracer {
  /** Layers a self-time is reported for: the engine's modules, Spark
    * itself (driver-side planning and scheduling, and waits for jobs
    * no layer owns) and the benchmark's own code. */
  val Modules: Seq[String] = Seq("jobs", "ingest", "rollup", "codec", "table",
    "state", "retention", "operators", "spark", "bench")

  /** A sample's or a job's layer from its innermost `graft.*` frame
    * (`graft.table.SnapshotTable.keyBounds(SnapshotTable.scala:350)` or
    * a `StackTraceElement`). Table and state work is split further into
    * the sub-layers the per-layer metrics name. */
  def frameLayer(frame: String): String = {
    val (cls, method) = {
      val noArgs = frame.takeWhile(_ != '(')
      val dot = noArgs.lastIndexOf('.')
      (noArgs.take(dot), noArgs.drop(dot + 1))
    }
    val module = cls.stripPrefix("graft.").takeWhile(_ != '.')
    def has(words: String*) = words.exists(method.contains)
    cls match {
      case c if c.startsWith("graft.state.StateStore") =>
        if (has("commit", "write", "log", "compact")) "state.commit" else "state.read"
      case c if c.startsWith("graft.table.ParquetFooters") => "table.footer"
      case c if c.startsWith("graft.table.SnapshotTable") =>
        if (has("keyBounds", "rowCount")) "table.footer"
        else if (has("readFiles", "readForKey") || method == "read") "table.read"
        else if (has("stageWrite", "registerStage", "releaseStage")) "table.write"
        else "table.manifest"
      case c if c.startsWith("graft.jobs.RollupJob") => "jobs"
      case c if c.startsWith("graft.ingest.Transcripts") => "ingest"
      case c if c.startsWith("graft.rollup.BlockRollup") || c.startsWith("graft.codec") => "codec"
      case _ if module == "SparkEntry" || module == "gapfill" || module == "functions" => "operators"
      case _ if module.nonEmpty => module
      case _ => "bench"
    }
  }

  def frameLayer(e: StackTraceElement): String =
    frameLayer(s"${e.getClassName}.${e.getMethodName}(")

  /** Module of a job class or a sub-layer name (`tier.1m` is rollup
    * work, `tier.blocks_1h` codec work, `table.footer` table work). */
  def moduleOf(layer: String): String = layer match {
    case "tier.blocks_1h" => "codec"
    case l if l.startsWith("tier.") => "rollup"
    case l => l.takeWhile(_ != '.')
  }

  /** File scans of an executed plan (descending into adaptive stages):
    * (files read, rows output) summed over scans whose location
    * contains `pathPart`. */
  def scans(plan: SparkPlan, pathPart: String): (Long, Long) = {
    object H extends AdaptiveSparkPlanHelper
    val found = H.collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(pathPart)) =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        (m("numFiles"), m("numOutputRows"))
    }
    (found.map(_._1).sum, found.map(_._2).sum)
  }
}
