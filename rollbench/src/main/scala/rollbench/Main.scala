package rollbench

import graft.jobs.RollupJob
import graft.retention.Retention
import graft.rollup.{BlockRollup, Rollup}
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload run of the rollup-engine benchmark, in its own JVM.
  *
  *   rollbench.Main <workload> <seed> <ops> <trace 0|1> <cores> <outDir> [dataDir]
  *
  * Builds the workload's seeded inputs, sets up, makes one untimed warm
  * pass of the op sequence, then times `ops` ops in a closed loop with
  * one client (this thread). It writes `result.json` and the files the
  * output checks read into `outDir`; `run.py` computes the summary and
  * runs the checks. The engine is called only through its public entry
  * points.
  */
object Main {

  final case class Cfg(workload: String, seed: Long, ops: Int, trace: Boolean,
      cores: Int, out: String, data: String)

  def main(argv: Array[String]): Unit = {
    val cfg = argv match {
      case Array(w, s, n, t, c, o, rest @ _*) =>
        Cfg(w, s.toLong, n.toInt, t == "1", c.toInt, o, rest.headOption.getOrElse(""))
      case _ => sys.error("usage: rollbench.Main <workload> <seed> <ops> <trace> <cores> <outDir> [dataDir]")
    }
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"rollbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.out}/spark-warehouse")
      .config("spark.local.dir", s"${cfg.out}/spark-local")
      .config("spark.callstack.depth", "80")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer =
      if (cfg.trace) {
        val t = new Tracer(spark, Thread.currentThread())
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None
    val run = new Run(spark, cfg, tracer)
    try {
      cfg.workload match {
        case "backfill" => run.backfill()
        case "catchup" => run.catchup()
        case "serve" => run.serve()
        case "query_mix" => run.queryMix()
        case w => sys.error(s"unknown workload: $w")
      }
      run.writeResult()
    } finally spark.stop()
  }
}

/** Shared state of one run: timings, counters and the result file. */
final class Run(spark: SparkSession, cfg: Main.Cfg, tracer: Option[Tracer]) {
  import Run._

  private val out = Paths.get(cfg.out)
  private val checkDir = out.resolve("check")
  Files.createDirectories(checkDir)

  private var setupEndMs = 0L
  private val opTimes = mutable.ArrayBuffer[Double]()
  private var workS = 0.0
  private var workUnits = 0.0
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer[String]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  private val checkInfo = mutable.LinkedHashMap[String, String]()
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gcAtStart = 0L

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** End of set-up: the warm pass is done; the timed phase starts. */
  private def setupDone(): Unit = {
    setupEndMs = System.currentTimeMillis()
    tracer.foreach(_.recording = true)
    gcAtStart = gcMs
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Time `n` ops in a closed loop. `body(i)` runs op i and returns the
    * work units (turns) it accounts for. */
  private def timed(n: Int, kind: Int => String, actionLayer: String)(body: Int => Double): Unit =
    (0 until n).foreach { i =>
      attempted += 1
      tracer.foreach(_.begin())
      val s0 = System.nanoTime()
      workUnits += body(i)
      val s = (System.nanoTime() - s0) / 1e9
      tracer.foreach(_.end(kind(i), actionLayer))
      opTimes += s
      workS += s
    }

  private def span[A](name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))

  // ---------------------------------------------------------------- inputs

  /** Seeded transcripts: `convs` conversations of `avgTurns` mean
    * turns, 1% of them hot at 20×, cut to the first `days` days of the
    * generator's 30-day span. */
  private def turns(convs: Int, avgTurns: Int, days: Int): DataFrame =
    graft.ingest.Synth.transcripts(spark, convs, avgTurns, cfg.seed,
      hotConvs = math.max(1, convs / 100), hotFactor = 20).toDF()
      .filter(col("ts") < lit(dayStart(days)).cast("timestamp"))

  private def writeInput(df: DataFrame, name: String): String = {
    val p = out.resolve(name).toString
    df.write.parquet(p)
    p
  }

  // ------------------------------------------------------------- backfill

  /** One op = `RollupJob.run` of the same seeded input into a fresh,
    * empty warehouse: raw → 1m → 1h → 1d → blocks_1h with commits,
    * checkpoints, lineage and metrics. */
  def backfill(): Unit = {
    val input = writeInput(turns(BackfillConvs, AvgTurns, BackfillDays), "input")
    val nTurns = spark.read.parquet(input).count().toDouble
    def wh(i: Int) = out.resolve(s"wh/bf$i").toString
    def op(i: Int): Unit = span("jobs.run") {
      val r = new RollupJob(wh(i)).run(spark, spark.read.parquet(input), s"bf$i")
      tracer.foreach(_.count("jobs.partitions", r.map(_.partitions.size).sum))
    }
    op(0)
    deleteTree(Paths.get(wh(0)))
    setupDone()
    timed(cfg.ops, _ => "backfill", "jobs") { i =>
      op(i + 1)
      nTurns
    }
    val last = wh(cfg.ops)
    tableMetrics(last, nTurns)
    // outputs for the checks: the committed tier files and the decoded blocks
    writeTableFiles(last, TierTables)
    writeDecoded(last)
    checkInfo("input") = q(input)
  }

  // -------------------------------------------------------------- catchup

  /** The catchup input: `Synth` transcripts with the day each turn
    * arrives (`arr`, days since 2024-01-01). Each of the first
    * `CatchupDays` days keeps exactly `CatchupTurnsPerDay` of its turns,
    * chosen by a seeded hash, so every seed gives each op the same
    * volume; a seeded `LateShare` of turns arrives 1 to `MaxLateDays`
    * days late. Hashes, not `rand`, decide both, so the input does not
    * depend on how Spark partitions the generator. */
  private def arrivals(): String = {
    def hash(salt: String) = xxhash64(col("conv_id"), col("turn_idx"), lit(cfg.seed), lit(salt))
    val day = datediff(to_date(col("ts")), lit("2024-01-01"))
    val late = pmod(hash("late"), lit(1000000)) < lit((LateShare * 1000000).toInt)
    val sampled = turns(CatchupConvs, CatchupAvgTurns, CatchupDays)
      .withColumn("day", day)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("day").orderBy(hash("pick"), col("conv_id"), col("turn_idx"))))
      .filter(col("rank") <= CatchupTurnsPerDay)
      .withColumn("arr", (col("day") + when(late, pmod(hash("delay"), lit(MaxLateDays)) + 1)
        .otherwise(0)).cast("int"))
      .drop("day", "rank")
    val input = writeInput(sampled.coalesce(1), "input")
    val perDay = spark.read.parquet(input).groupBy(day).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    require((0 until CatchupDays).forall(d => perDay.get(d).contains(CatchupTurnsPerDay.toLong)),
      s"catchup input: not $CatchupTurnsPerDay turns on every day: $perDay")
    input
  }

  /** A warehouse built in set-up from the first days; each op exposes
    * one more day of arrivals (that day's turns plus the late turns
    * arriving that day), runs `RollupJob.run` over every turn arrived
    * so far and then `Retention.expire` on every tier and blocks_1h.
    * The first op after set-up is the warm pass. */
  def catchup(): Unit = {
    val input = arrivals()
    val wh = out.resolve("wh/catchup").toString
    val job = new RollupJob(wh)
    val all = spark.read.parquet(input)
    val recomputed = mutable.ArrayBuffer[String]()
    def op(k: Int): Double = {
      val arrived = all.filter(col("arr") <= k).drop("arr")
      val before = tracer.map(_ => committedFiles(wh))
      val res = span("jobs.run")(job.run(spark, arrived, s"day$k"))
      before.foreach { b =>
        val added = committedFiles(wh) -- b.keySet
        tracer.foreach(_.count("table.files_written", added.size))
        tracer.foreach(_.count("table.bytes_written", added.values.sum))
      }
      tracer.foreach(_.count("jobs.partitions", res.map(_.partitions.size).sum))
      val wm = dayName(k)
      span("retention.expire") {
        TierTables.foreach { t =>
          val table = new SnapshotTable(s"$wh/$t")
          val before = tracer.map(_ => table.currentManifest.map(_.files.size).getOrElse(0))
          Retention.expire(table, t.stripPrefix("rollup_"), wm, Retention.Policy())
          before.foreach(b => tracer.foreach(_.count("retention.files",
            b - table.currentManifest.map(_.files.size).getOrElse(0))))
        }
      }
      recomputed += "{" + q("day") + ":" + k + "," + res.map(r =>
        q(r.tier) + ":" + r.partitions.map(q).mkString("[", ",", "]")).mkString(",") + "}"
      0.0
    }
    job.run(spark, all.filter(col("arr") <= CatchupStartDay).drop("arr"), "setup")
    (1 to CatchupWarmDays).foreach(d => op(CatchupStartDay + d))
    setupDone()
    val first = CatchupStartDay + CatchupWarmDays + 1
    require(first + cfg.ops - 1 < CatchupDays,
      s"catchup: ${cfg.ops} ops need more than the input's $CatchupDays days")
    val newTurns = all.groupBy("arr").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    timed(cfg.ops, _ => "catchup", "jobs") { i =>
      val k = first + i
      op(k)
      newTurns.getOrElse(k, 0L).toDouble
    }
    val lastDay = first + cfg.ops - 1
    tableMetrics(wh, all.filter(col("arr") <= lastDay).count().toDouble)
    layer("state.files") = countFiles(Paths.get(wh, "_state")).toDouble
    writeTableFiles(wh, TierTables)
    writeDecoded(wh)
    checkInfo("input") = q(input)
    checkInfo("last_day") = lastDay.toString
    checkInfo("recomputed") = recomputed.mkString("[", ",", "]")
  }

  // ---------------------------------------------------------------- serve

  /** One op = one read from a seeded fixed sequence on a warehouse
    * built in set-up, whose input has one quiet day mid-range: aligned,
    * ragged and sub-day stored stitches, serving stitches over the open
    * last day and across the quiet day, and a clustered-key lookup. */
  def serve(): Unit = {
    val dayCol = date_format(col("ts"), "yyyy-MM-dd")
    val input = writeInput(
      turns(ServeConvs, AvgTurns, ServeDays).filter(dayCol =!= lit(dayName(QuietDay))), "input")
    val wh = out.resolve("wh/serve").toString
    new RollupJob(wh).run(spark, spark.read.parquet(input), "serve")
    val convs = spark.read.parquet(input).select("conv_id").distinct().collect()
      .map(_.getString(0)).sorted
    val reads = Reads.sequence(cfg.seed, convs)
    val raw = spark.read.parquet(input)
    def t(name: String) = new SnapshotTable(s"$wh/$name")
    val (m1, h1, d1) = (t("rollup_1m"), t("rollup_1h"), t("rollup_1d"))
    val state = new graft.state.StateStore(s"$wh/_state")
    val results = mutable.Map[Int, Array[Row]]()
    val schemas = mutable.Map[Int, String]()
    def op(i: Int): Double = {
      val r = reads(i % reads.size)
      val (df, planName) = r.kind match {
        case "key" =>
          (span("table.read_for_key")(h1.readForKey(spark, r.key)), "table.read_for_key")
        case kind =>
          val plan = span("rollup.stitch_plan") {
            if (kind.startsWith("serving"))
              Rollup.stitchRangeServing(spark, m1, h1, d1, state, raw, r.from, r.to)
            else Rollup.stitchRangeStored(spark, m1, h1, d1, raw, r.from, r.to)
          }
          (plan, "rollup.stitch_exec")
      }
      val rows = span(planName)(df.collect())
      tracer.foreach { tr =>
        val (files, _) = Tracer.scans(df.queryExecution.executedPlan, wh)
        val (_, rawRows) = Tracer.scans(df.queryExecution.executedPlan, input)
        tr.count("table.files_planned", files)
        if (r.kind != "key") tr.count("rollup.raw_rows", rawRows)
      }
      results(i % reads.size) = rows
      schemas(i % reads.size) = df.schema.fieldNames.map(q).mkString("[", ",", "]")
      if (r.kind == "key") rows.length.toDouble
      else rows.map(_.getAs[Long]("turn_count")).sum.toDouble
    }
    reads.indices.foreach(op)
    setupDone()
    timed(cfg.ops, i => s"serve.${reads(i % reads.size).kind}", "rollup")(op)
    tableMetrics(wh, raw.count().toDouble)
    val lines = reads.indices.map { i =>
      val r = reads(i)
      "{" + Seq(q("kind") + ":" + q(r.kind), q("from") + ":" + q(r.from),
        q("to") + ":" + q(r.to), q("key") + ":" + q(r.key),
        q("columns") + ":" + schemas(i),
        q("rows") + ":" + results(i).map(rowJson).mkString("[", ",", "]")).mkString(",") + "}"
    }
    Files.writeString(checkDir.resolve("reads.json"), lines.mkString("[", ",\n", "]"))
    checkInfo("input") = q(input)
  }

  // ------------------------------------------------------------ query_mix

  /** One op = one declared query forced through the noop sink, with the
    * cache cleared after it. Once per run, outside the timed passes,
    * `Dedup.components` runs on a 60-node chain of pairs. */
  def queryMix(): Unit = {
    val dir = cfg.data
    val names = QueryMix
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, dir).write.parquet(checkDir.resolve(s"q/$n").toString)
      spark.sharedState.cacheManager.clearCache()
    }
    def op(n: String): Unit = span(s"query.$n") {
      val df = span(s"plan.$n")(graft.SparkEntry.queries(n)(spark, dir))
      df.write.format("noop").mode("overwrite").save()
      spark.sharedState.cacheManager.clearCache()
    }
    // a second warm pass, run as the timed ones are: a query's first
    // passes in a fresh JVM are up to twice as slow as its later ones
    names.foreach(op)
    setupDone()
    val rows = Seq("events", "documents", "embeddings").map(t =>
      t -> graft.table.ParquetFooters.rowCount(spark, s"$dir/$t.parquet").toDouble).toMap
    timed(cfg.ops, i => s"query.${names(i % names.size)}", "operators") { i =>
      val n = names(i % names.size)
      op(n)
      rows(QueryInput(n))
    }
    // the known failing op: min-label propagation needs one round per
    // hop, so a 60-node chain cannot converge within the 50-round cap
    attempted += 1
    import spark.implicits._
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    try {
      val labels = graft.operators.Dedup.components(chain).collect()
      checkInfo("components") = labels.map(r => s"[${r.getLong(0)},${r.getLong(1)}]").mkString("[", ",", "]")
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"Dedup.components on a 60-node chain: ${e.getMessage}"
    }
    val oracle = names.map(n => q(n) + ":" + q(graft.SparkEntry.oracleSql(n))).mkString("{", ",\n", "}")
    Files.writeString(checkDir.resolve("oracle_sql.json"), oracle)
    checkInfo("queries") = names.map(q).mkString("[", ",", "]")
    tracer.foreach { t =>
      names.foreach(n => layer(s"query.${n}_s") = t.spanMedian(s"query.$n"))
      // the declared stitch (Rollup.stitchRange): driver time to build
      // the plan, then its execution, and the raw turns it scanned
      layer("rollup.stitch_plan_s") = t.spanMedian(s"plan.$StitchQuery")
      layer("rollup.stitch_exec_s") = t.spanMedian(s"query.$StitchQuery") - t.spanMedian(s"plan.$StitchQuery")
      layer("rollup.raw_rows_per_stitch") = t.inputRows(s"query.$StitchQuery")
    }
  }

  // -------------------------------------------------------------- results

  /** Stored bytes of the tier and blocks tables' current manifests,
    * per input turn, and blocks bytes per encoded point. */
  private def tableMetrics(wh: String, nTurns: Double): Unit = {
    def bytes(t: String) = new SnapshotTable(s"$wh/$t").currentManifest
      .map(_.files.map(_.bytes).sum).getOrElse(0L).toDouble
    val total = TierTables.map(bytes).sum
    layer("table.stored_bytes_per_turn") = total / nTurns
    layer("codec.bytes_per_point") = bytes("blocks_1h") / nTurns
    // backfill writes a whole fresh warehouse in each op
    if (cfg.workload == "backfill") {
      val files = committedFiles(wh)
      layer("table.files_written") = files.size.toDouble
      layer("table.bytes_written") = files.values.sum
    }
  }

  /** Path → bytes of every file the tier and blocks manifests reference. */
  private def committedFiles(wh: String): Map[String, Double] =
    TierTables.flatMap(t => new SnapshotTable(s"$wh/$t").currentManifest
      .map(_.files.map(f => f.path -> f.bytes.toDouble)).getOrElse(Nil)).toMap

  private def writeTableFiles(wh: String, tables: Seq[String]): Unit = {
    val json = tables.map { t =>
      val files = new SnapshotTable(s"$wh/$t").currentManifest.map(_.files.map(_.path)).getOrElse(Nil)
      q(t) + ":" + files.map(q).mkString("[", ",", "]")
    }.mkString("{", ",\n", "}")
    Files.writeString(checkDir.resolve("tables.json"), json)
  }

  /** The decoded points of a warehouse's blocks_1h, for the lossless
    * round-trip check. */
  private def writeDecoded(wh: String): Unit =
    BlockRollup.decode(new SnapshotTable(s"$wh/blocks_1h").read(spark))
      .write.parquet(checkDir.resolve("decoded").toString)

  def writeResult(): Unit = {
    val rss = readVmHwmKb() / 1024.0
    val traced: Map[String, Double] = tracer.map { t =>
      val n = math.max(1, cfg.ops).toDouble
      t.metrics(cfg.ops) ++ Map(
        "jobs.partitions_recomputed" -> t.spanTotal("jobs.partitions") / n,
        "rollup.stitch_plan_s" -> t.spanMedian("rollup.stitch_plan"),
        "rollup.stitch_exec_s" -> t.spanMedian("rollup.stitch_exec"),
        "rollup.raw_rows_per_stitch" -> rawRowsPerStitch(t),
        "table.read_for_key_s" -> t.spanMedian("table.read_for_key"),
        "table.files_planned" -> t.spanTotal("table.files_planned") / n,
        "table.files_written" -> t.spanTotal("table.files_written") / n,
        "table.bytes_written" -> t.spanTotal("table.bytes_written") / n,
        "retention.expire_s" -> t.spanTotal("retention.expire") / n,
        "retention.files_deleted" -> t.spanTotal("retention.files") / n,
        "query.jobs" -> t.queryJobs / n,
        "jvm.gc_s" -> (gcMs - gcAtStart) / 1e3 / n,
        "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "trace.work_s" -> workS)
    }.getOrElse(Map.empty)
    val layerJson = (traced ++ layer).toSeq.sortBy(_._1)
      .map { case (k, v) => q(k) + ":" + num(v) }.mkString("{", ",", "}")
    val fields = Seq(
      "setup_end_ms" -> setupEndMs.toString,
      "op_s" -> opTimes.map(num).mkString("[", ",", "]"),
      "work_s" -> num(workS),
      "work_units" -> num(workUnits),
      "peak_rss_mb" -> num(rss),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(q).mkString("[", ",", "]"),
      "layer" -> layerJson,
      "check" -> checkInfo.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}"))
    Files.writeString(out.resolve("result.json"),
      fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",\n", "}"))
  }

  private def rawRowsPerStitch(t: Tracer): Double = {
    val stitches = opKinds.count(k => k.startsWith("serve.") && k != "serve.key")
    if (stitches == 0) 0.0 else t.spanTotal("rollup.raw_rows") / stitches
  }
  private def opKinds: Seq[String] = cfg.workload match {
    case "serve" => (0 until cfg.ops).map(i => "serve." + Reads.kindAt(i))
    case w => Seq.fill(cfg.ops)(w)
  }
}

object Run {
  val AvgTurns = 25
  val BackfillDays = 8
  val BackfillConvs = 400
  val CatchupDays = 20
  val CatchupConvs = 1800
  val CatchupAvgTurns = 20
  val CatchupTurnsPerDay = 500
  val LateShare = 0.03
  val MaxLateDays = 3
  val CatchupStartDay = 3
  val CatchupWarmDays = 1
  val ServeDays = 10
  val ServeConvs = 300
  val QuietDay = 5
  val TierTables = Seq("rollup_1m", "rollup_1h", "rollup_1d", "blocks_1h")

  /** One query per operator family, each with an `oracleSql` entry,
    * and the table each reads. */
  val QueryMix: Seq[String] = Seq("q02_rollup_1m", "q09_gapfill_1h", "q19_sessionize",
    "q20_dedup_exact", "q28_cosine_pairs", "q60_role_transitions", "q63_ohlc_candles",
    "q140_tier_stitch")
  val StitchQuery = "q140_tier_stitch"
  val QueryInput: Map[String, String] = QueryMix.map { n =>
    n -> (if (n == "q20_dedup_exact") "documents"
      else if (n == "q28_cosine_pairs") "embeddings" else "events")
  }.toMap

  private val epochStartMs = 1704067200000L // 2024-01-01T00:00:00Z, Synth's epoch
  def dayStart(d: Int): java.sql.Timestamp = new java.sql.Timestamp(epochStartMs + d * 86400000L)
  def dayName(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong).toString

  def q(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
    case c => c.toString
  } + "\""

  /** A number with all its digits, formatted independently of locale. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def rowJson(r: Row): String = r.toSeq.map {
    case null => "null"
    case s: String => q(s)
    case d: Double => java.lang.Double.toString(d)
    case n: java.lang.Number => n.toString
    case t: java.sql.Timestamp => q(t.toInstant.toString)
    case t: java.time.Instant => q(t.toString)
    case t: java.time.LocalDateTime => q(t.toString)
    case other => q(other.toString)
  }.mkString("[", ",", "]")

  def readVmHwmKb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    val all = try walk.iterator().asScala.toSeq finally walk.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }

  def countFiles(p: Path): Int = if (!Files.exists(p)) 0 else {
    val walk = Files.walk(p)
    try walk.iterator().asScala.count(Files.isRegularFile(_)) finally walk.close()
  }
}

/** The serve workload's seeded read sequence. */
object Reads {
  final case class Read(kind: String, from: String, to: String, key: String)

  val Kinds: Seq[String] = Seq("aligned", "ragged", "subday", "serving_open", "serving_quiet", "key")
  val PerKind = 2
  def kindAt(i: Int): String = Kinds((i % (Kinds.size * PerKind)) / PerKind)

  def sequence(seed: Long, convs: Seq[String]): Seq[Read] = {
    val rng = new java.util.Random(seed * 31L + 7L)
    def at(day: Int, sec: Int): String = {
      val t = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(day.toLong).plusSeconds(sec.toLong)
      t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    }
    def sec(): Int = 1 + rng.nextInt(86398)
    import Run.{QuietDay, ServeDays}
    val last = ServeDays - 1
    Kinds.flatMap { kind =>
      (0 until PerKind).map { _ =>
        kind match {
          case "aligned" =>
            val a = rng.nextInt(3); Read(kind, at(a, 0), at(a + 3 + rng.nextInt(4), 0), null)
          case "ragged" =>
            val a = rng.nextInt(3); Read(kind, at(a, sec()), at(a + 3 + rng.nextInt(4), sec()), null)
          case "subday" =>
            val d = rng.nextInt(last); val s = rng.nextInt(40000)
            Read(kind, at(d, s), at(d, s + 3600 + rng.nextInt(40000)), null)
          case "serving_open" =>
            Read(kind, at(last - 3, sec()), at(last, sec()), null)
          case "serving_quiet" =>
            Read(kind, at(QuietDay - 2, sec()), at(QuietDay + 2, sec()), null)
          case _ =>
            Read(kind, null, null, convs(rng.nextInt(convs.size)))
        }
      }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
