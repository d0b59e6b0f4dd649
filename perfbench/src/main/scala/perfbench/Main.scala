package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, MapType, StringType, StructField, StructType}
import graft.operators.HeatmapPipeline
import graft.sources.LocationsSource

/** The paper's batch pipeline (GPS `locations` → tile pyramid → JSON heatmap
  * blobs) timed as whole jobs, and split into layers by a traced run.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --keep <dir> --cores <n>
  *
  * `work` holds the generated inputs and job outputs; `keep` receives what
  * outlives the run: the traced run's spans and the recorded output digests.
  *
  * A job reads the generated input through `LocationsSource.read`, runs
  * `HeatmapPipeline.run` (and, for append_daily, `mergeBlobs` against a
  * stored base), and commits the blobs to a fresh parquet directory. Every
  * job's output is checked outside the timed interval; the last line of
  * stdout is the JSON result.
  */
object Main {
  val cfg = HeatmapPipeline.Config(timespans = true)
  private val metro = Some((47.40, -122.55, 0.5))

  /** `input` is what each job reads; `history`, when present, is built into
    * the stored blob base during set-up (the append workload).
    * `warmUpJobs` jobs run before timing starts: job times fall over the
    * first three or four jobs of a session while the JIT compiles the hot
    * paths. */
  final case class Workload(input: Gen, history: Option[Gen], warmUpJobs: Int = 4)

  val workloads: Map[String, Workload] = Map(
    "rebuild_dense" -> Workload(
      Gen(rows = 1200000, users = 50, places = 20, box = metro, days = 7,
        firstDay = "2024-03-04", background = 0.10), None),
    "rebuild_sparse" -> Workload(
      Gen(rows = 4000, users = 1600, places = 0, box = None, days = 90,
        firstDay = "2024-01-01", background = 0.10), None),
    "append_daily" -> {
      val historyRows = 150000L
      Workload(
        Gen(rows = 20000, users = 30, places = 20, box = metro, days = 1,
          firstDay = "2024-01-31", background = 0.10, firstId = historyRows),
        Some(Gen(rows = historyRows, users = 30, places = 20, box = metro, days = 30,
          firstDay = "2024-01-01", background = 0.10)),
        // the base builds in the set-ups already run the pipeline
        warmUpJobs = 3)
    })

  /** Input set-ups per untraced run. Set-up time is session start, plus
    * their median, plus the warm-up jobs. */
  val setups = 3

  final class Args(a: Array[String]) {
    private def get(k: String): String = {
      val i = a.indexOf(s"--$k")
      require(i >= 0 && i + 1 < a.length, s"missing --$k")
      a(i + 1)
    }
    val workload: String = get("workload")
    val seed: Long = get("seed").toLong
    val seconds: Double = get("seconds").toDouble
    val trace: Boolean = get("trace") == "1"
    val work: String = get("work")
    val keep: String = get("keep")
    val cores: Int = get("cores").toInt
    require(workloads.contains(workload),
      s"unknown workload $workload; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)
    progress("session started")
    val bench = new Bench(spark, args, workloads(args.workload))
    val ok = try {
      if (args.trace) bench.traced() else bench.untraced(sessionS)
    } finally spark.stop()
    progress("session stopped")
    if (!ok) sys.exit(1)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  /** Progress on stderr, which the runner shows when a run fails. */
  def progress(msg: String): Unit = System.err.println(f"[perfbench ${secondsSince(started)}%8.3f] $msg")

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The data files of a parquet directory. */
  def sinkFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten.filter(_.getName.startsWith("part-"))

  def dataMb(dir: String): Double = sinkFiles(dir).map(_.length).sum / 1e6
}

/** A measured value for the report. `exact` marks values that repeat exactly
  * for a fixed seed (counts, and ratios of counts); they do not drift with
  * host contention. */
final case class Metric(name: String, value: Double, unit: String, exact: Boolean = false)

final class Bench(spark: SparkSession, args: Main.Args, w: Main.Workload) {
  import Main._
  private val tracer = new Tracer
  private val cfg = Main.cfg
  private var inputDir = ""
  private def inputPath = s"$inputDir/locations"
  private def historyPath = s"$inputDir/history"
  private def basePath = s"$inputDir/heatmaps"
  private var outputs = 0

  /** Writes the seeded inputs; for the append workload also builds and
    * stores the `heatmaps` base from the history. */
  private def setUp(dir: String): Unit = {
    inputDir = dir
    w.input.write(spark, args.seed, args.cores, inputPath)
    w.history.foreach { h =>
      h.write(spark, args.seed, args.cores, historyPath)
      HeatmapPipeline.run(LocationsSource.read(spark, historyPath), cfg)
        .write.parquet(basePath)
    }
  }

  private def result(locations: DataFrame): DataFrame = {
    val blobs = tracer.span("run")(HeatmapPipeline.run(locations, cfg))
    if (w.history.isEmpty) blobs
    else tracer.span("merge")(HeatmapPipeline.mergeBlobs(spark.read.parquet(basePath), blobs))
  }

  /** Runs the workload's `warmUpJobs` untimed jobs. Returns their times,
    * the first job's output digest, which every later job must reproduce,
    * and the problems found in the other warm-up outputs. */
  private def warmUp(): (Seq[Double], String, Seq[String]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    val digests = (1 to w.warmUpJobs).map { _ =>
      val t0 = System.nanoTime()
      val out = job()
      times += secondsSince(t0)
      val d = digest(spark.read.parquet(out))
      deleteTree(new File(out))
      d
    }
    val problems = digests.zipWithIndex.collect {
      case (d, i) if d != digests.head => s"warm-up job ${i + 1} output differs from the first job's"
    }
    progress("warm-up jobs done")
    (times.toSeq, digests.head, problems)
  }

  /** One job: read, run the pipeline, commit to a new sink directory. */
  private def job(): String = {
    val out = s"${args.work}/out/job-$outputs"
    outputs += 1
    tracer.span("job") {
      val locations = tracer.span("sources.read")(LocationsSource.read(spark, inputPath))
      val blobs = result(locations)
      tracer.span("sink.write")(blobs.write.parquet(out))
    }
    out
  }

  private val blobSchema = StructType(Seq(StructField("id", StringType), StructField("heatmap", StringType)))

  /** Order-independent digest of a table's rows. */
  private def digest(df: DataFrame): String = {
    val cols = df.columns.toSeq.map(col)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      bit_xor(xxhash64(cols.reverse: _*))).first()
    s"${r.getLong(0)}:${r.get(1)}:${r.getLong(2)}"
  }

  private def nonBackground(path: String): Long =
    LocationsSource.read(spark, path).filter(col("source") =!= cfg.dropSource).count()

  /** For the `all|alltime` blobs, the total count at every zoom of the
    * pyramid must equal the number of non-background input rows. */
  private def alltimeLaw(out: String): Option[String] = {
    val expected = nonBackground(inputPath) + w.history.map(_ => nonBackground(historyPath)).getOrElse(0L)
    val perZoom = spark.read.parquet(out)
      .filter(col("id").startsWith("all|alltime|"))
      .select(explode(from_json(col("heatmap"), MapType(StringType, DoubleType))))
      .groupBy(split(col("key"), "_").getItem(0).cast("int").as("zoom"))
      .agg(sum(col("value")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val zooms = cfg.coarseZoom to cfg.fineZoom
    val bad = zooms.filterNot(z => perZoom.get(z).contains(expected.toDouble))
    if (bad.isEmpty && perZoom.size == zooms.size) None
    else Some(s"alltime counts differ from $expected non-background rows at zooms " +
      s"${bad.mkString(",")}: $perZoom")
  }

  /** Append only: merging the daily delta into the stored base, whose
    * output digest is `merged`, equals rebuilding the whole history plus
    * the delta. */
  private def mergeLaw(merged: String): Option[String] = w.history.flatMap { _ =>
    val all = LocationsSource.read(spark, historyPath)
      .unionByName(LocationsSource.read(spark, inputPath))
    val rebuilt = digest(HeatmapPipeline.run(all, cfg))
    if (rebuilt == merged) None else Some(s"merge law: merged $merged != rebuilt $rebuilt")
  }

  private def fail(msg: String): Unit = System.out.println(s"check failed: $msg")

  /** One line per metric, then the JSON result as the last stdout line. */
  private def report(ms: Seq[Metric], attempted: Int, failed: Int, correct: Boolean): Unit = {
    println(f"${"fail_ratio"}%-28s ${failed.toDouble / attempted}%14.6f ratio")
    ms.foreach { m =>
      val tag = if (m.exact) " exact" else ""
      println(f"${m.name}%-28s ${m.value}%14.6f ${m.unit}$tag")
    }
    val body = ms.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  /** End-to-end run: `setups` set-ups, the warm-up jobs, then
    * jobs for `seconds`. Returns whether every check passed. */
  def untraced(sessionS: Double): Boolean = {
    val problems = mutable.ArrayBuffer.empty[String]
    val setupS = (0 until setups).map { i =>
      if (i > 0) deleteTree(new File(inputDir))
      val t0 = System.nanoTime()
      setUp(s"${args.work}/input-$i")
      secondsSince(t0)
    }
    progress("set-ups done")
    val (warmS, expected, warmProblems) = warmUp()
    problems ++= warmProblems
    sameAsEarlierRun(expected).foreach(problems += _)

    val jobS, sinkMb = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    do {
      val t0 = System.nanoTime()
      outs += job()
      jobS += secondsSince(t0)
      sinkMb += dataMb(outs.last)
    } while (System.nanoTime() < deadline)
    progress("timed jobs done")
    // outputs are checked after the timed interval, so that it holds only jobs
    var failed = 0
    for ((out, i) <- outs.zipWithIndex) {
      if (digest(spark.read.parquet(out)) != expected) {
        failed += 1
        problems += s"job ${i + 1} output differs from the first warm-up job's"
      }
      if (i > 0) deleteTree(new File(out))
    }
    val laws = alltimeLaw(outs.head).toSeq ++ mergeLaw(expected)
    if (laws.nonEmpty) failed = jobS.size // every job wrote the same output
    problems ++= laws
    progress("laws checked")
    problems.foreach(fail)

    println(s"workload ${args.workload} seed ${args.seed} cores ${args.cores} " +
      s"set-ups ${setupS.map(t => f"$t%.3f").mkString(" ")} " +
      s"warm-up jobs ${warmS.map(t => f"$t%.3f").mkString(" ")} " +
      s"jobs ${jobS.map(t => f"$t%.3f").mkString(" ")}")
    report(Seq(
      Metric("setup_s", sessionS + median(setupS) + warmS.sum, "s"),
      Metric("job_s", median(jobS.toSeq), "s"),
      Metric("sink_mb", median(sinkMb.toSeq), "MB", exact = sinkMb.distinct.size == 1),
      Metric("peak_rss_mb", peakRssMb(), "MB")),
      attempted = jobS.size, failed = failed, correct = problems.isEmpty)
    problems.isEmpty
  }

  /** The output digest must equal the one an earlier run of the same build
    * recorded for this workload and seed; the first run records it. */
  private def sameAsEarlierRun(d: String): Option[String] = {
    val f = Paths.get(args.keep, s"digest-${args.workload}-seed${args.seed}.txt")
    if (Files.exists(f)) {
      val earlier = new String(Files.readAllBytes(f), "UTF-8")
      if (earlier == d) None else Some(s"output $d differs from an earlier run's $earlier")
    } else {
      Files.write(f, d.getBytes("UTF-8"))
      None
    }
  }

  /** Layer run: pairs of an untraced and a traced job for `seconds` / 2, then
    * every pipeline prefix executed to a no-op sink; a stage's self time is
    * its prefix time minus the preceding prefix time. */
  def traced(): Boolean = {
    val sc = spark.sparkContext
    val listener = new EngineListener(sc)
    setUp(s"${args.work}/input-0")
    val (_, expected, warmProblems) = warmUp()
    warmProblems.foreach(fail)
    var failed = 0
    def check(out: String): Unit = {
      if (digest(spark.read.parquet(out)) != expected) failed += 1
      deleteTree(new File(out))
    }

    def timedJob(): (Double, String) = {
      val t0 = System.nanoTime()
      val out = job()
      (secondsSince(t0), out)
    }
    def tracedJob(): (Double, String) = {
      sc.addSparkListener(listener)
      listener.reset()
      tracer.enabled = true
      try timedJob()
      finally { tracer.enabled = false; sc.removeSparkListener(listener) }
    }
    val plainS, tracedS = mutable.ArrayBuffer.empty[Double]
    var engine: Counters = null
    var sinkFilesN = 0
    val deadline = System.nanoTime() + (args.seconds / 2 * 1e9).toLong
    do {
      // alternate which side of the pair runs first
      val plainFirst = plainS.size % 2 == 0
      if (plainFirst) plainS += { val (t, o) = timedJob(); check(o); t }
      val (t, out) = tracedJob()
      tracedS += t
      engine = listener.read()
      sinkFilesN = sinkFiles(out).size
      check(out)
      if (!plainFirst) plainS += { val (t, o) = timedJob(); check(o); t }
    } while (System.nanoTime() < deadline)
    val jobS = median(tracedS.toSeq)
    progress("job pairs done")

    sc.addSparkListener(listener)
    tracer.enabled = true
    // prefixes of the job, each run to a no-op sink three times
    def prefix(name: String)(df: => DataFrame): (Double, Counters) = {
      val runs = (0 until 3).map { _ =>
        listener.reset()
        tracer.span(s"prefix.$name")(df.write.format("noop").mode("overwrite").save())
        (tracer.last(s"prefix.$name").seconds, listener.read())
      }
      (median(runs.map(_._1)), runs.last._2)
    }
    def loc = LocationsSource.read(spark, inputPath)
    def obs = HeatmapPipeline.observations(loc, cfg)
    def pyr = HeatmapPipeline.pyramid(obs, cfg)
    def blobs = HeatmapPipeline.resultSetBlobs(pyr, cfg)
    // the rebuild jobs never merge; there the merge layer is measured as
    // merging the job's blobs into an empty store
    def base =
      if (w.history.isEmpty) spark.createDataFrame(java.util.List.of[Row](), blobSchema)
      else spark.read.parquet(basePath)
    val (readS, readC) = prefix("sources")(loc)
    val (baseS, baseC) =
      if (w.history.isEmpty) (0.0, Counters(0, 0, 0, 0, 0, 0, 0, 1))
      else prefix("sources.base")(base)
    val (obsS, obsC) = prefix("observations")(obs)
    val (pyrS, pyrC) = prefix("pyramid")(pyr)
    val (blobsS, blobsC) = prefix("blobs")(blobs)
    val (mergeS, mergeC) = prefix("merge")(HeatmapPipeline.mergeBlobs(base, blobs))
    val plan = tracer.span("plans.probe")(PlanProbe(result(loc)))
    progress("prefixes done")

    // exact counts, outside every timed span
    val rows = loc.count()
    val nonBg = loc.filter(col("source") =!= cfg.dropSource).count()
    val obsRows = obs.count()
    val fineRows = obs.select("user_group", "timespan", "fine_row", "fine_col").distinct().count()
    val fineTiles = obs.select("fine_row", "fine_col").distinct().count()
    val pyrRows = pyr.count()
    val entries = pyr.filter(col("zoom") >= cfg.detailZoomDelta).count()
    val blobRows = blobs.count()
    val baseRows = base.count()
    val hits = blobs.join(base, Seq("id"), "left_semi").count()

    val layers = Seq(
      Metric("sources.read_s", readS + baseS, "s"),
      Metric("sources.rows", rows.toDouble, "count", exact = true),
      Metric("sources.mb_read",
        dataMb(inputPath) + w.history.map(_ => dataMb(basePath)).getOrElse(0.0), "MB", exact = true),
      Metric("observations.self_s", obsS - readS, "s"),
      Metric("observations.rows_out", obsRows.toDouble, "count", exact = true),
      Metric("observations.fanout", obsRows.toDouble / nonBg, "ratio", exact = true),
      Metric("pyramid.self_s", pyrS - obsS, "s"),
      Metric("pyramid.fine_rows", fineRows.toDouble, "count", exact = true),
      Metric("pyramid.collapse", obsRows.toDouble / fineRows, "ratio", exact = true),
      Metric("pyramid.rows_out", pyrRows.toDouble, "count", exact = true),
      Metric("pyramid.shuffle_mb", (pyrC - obsC).shuffleMb, "MB", exact = true),
      Metric("pyramid.spill_mb", (pyrC - obsC).spillMb, "MB"),
      Metric("blobs.self_s", blobsS - pyrS, "s"),
      Metric("blobs.rows_out", blobRows.toDouble, "count", exact = true),
      Metric("blobs.entries_per_blob", entries.toDouble / blobRows, "ratio", exact = true),
      Metric("blobs.shuffle_mb", (blobsC - pyrC).shuffleMb, "MB", exact = true),
      Metric("blobs.spill_mb", (blobsC - pyrC).spillMb, "MB"),
      Metric("merge.self_s", mergeS - blobsS - baseS, "s"),
      Metric("merge.base_rows", baseRows.toDouble, "count", exact = true),
      Metric("merge.delta_rows", blobRows.toDouble, "count", exact = true),
      Metric("merge.hit_ratio", hits.toDouble / blobRows, "ratio", exact = true),
      Metric("merge.shuffle_mb", (mergeC - blobsC - baseC).shuffleMb, "MB", exact = true),
      Metric("merge.spill_mb", (mergeC - blobsC - baseC).spillMb, "MB"),
      Metric("sink.self_s", jobS - (if (w.history.isEmpty) blobsS else mergeS), "s"),
      Metric("sink.files", sinkFilesN.toDouble, "count", exact = true),
      Metric("plans.plan_s", plan.planS, "s"),
      Metric("plans.codegen_stages", plan.codegenStages.toDouble, "count", exact = true),
      Metric("plans.fallback_exprs", plan.fallbackExprs.toDouble, "count", exact = true),
      Metric("engine.jobs", engine.jobs.toDouble, "count", exact = true),
      Metric("engine.stages", engine.stages.toDouble, "count", exact = true),
      Metric("engine.tasks", engine.tasks.toDouble, "count", exact = true),
      Metric("engine.busy", engine.runS / (jobS * args.cores), "ratio"),
      Metric("engine.gc_s", engine.gcS, "s"),
      Metric("engine.task_skew", engine.skew, "ratio"),
      Metric("input.fine_tiles", fineTiles.toDouble, "count", exact = true),
      Metric("trace.job_s", jobS, "s"),
      Metric("trace.overhead_s", jobS - median(plainS), "s"))

    writeTrace(layers)
    println(s"workload ${args.workload} seed ${args.seed} cores ${args.cores} " +
      s"untraced jobs ${plainS.size} traced jobs ${tracedS.size}")
    if (failed > 0) fail(s"$failed job outputs differ from the first job's")
    val correct = failed == 0 && warmProblems.isEmpty
    report(layers, attempted = plainS.size + tracedS.size, failed = failed, correct = correct)
    correct
  }

  /** Spans and layer metrics as JSON, written once at the end of the run. */
  private def writeTrace(layers: Seq[Metric]): Unit = {
    def q(s: String) = "\"" + s + "\""
    val spans = tracer.spans.sortBy(_.id).map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    val metrics = layers.map(m =>
      s"""{"name": ${q(m.name)}, "value": ${m.value}, "unit": ${q(m.unit)}, "exact": ${m.exact}}""")
    val json = s"""{"workload": ${q(args.workload)}, "seed": ${args.seed}, "cores": ${args.cores},
  "metrics": [\n    ${metrics.mkString(",\n    ")}],
  "spans": [\n    ${spans.mkString(",\n    ")}]}
"""
    Files.write(Paths.get(args.keep, s"trace-${args.workload}-seed${args.seed}.json"),
      json.getBytes("UTF-8"))
  }
}
