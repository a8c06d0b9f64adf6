package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: one JVM runs one workload for one seed on
  * `local[4]`, times it with tracing off (`--trace 0`) or records spans
  * and Spark counters (`--trace 1`), and writes `result.json` into its
  * work directory. `perfbench/run.py` builds, launches and checks it.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR
  *       --launch-ms EPOCH_MS --code-rev REV --inputs DIR,DIR,..
  *       --gen-s S,S,.. --docs N --rate R
  * Each input directory is one set-up copy made by perfbench/gen.py in
  * `--gen-s` seconds; the last one is measured. `--docs` is the corpus
  * size (refinery) or the base store size (ingest), `--rate` the ingest
  * arrival rate per second.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val run = new Run(opt("workload"), opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", work, opt("launch-ms").toLong, opt("code-rev"),
      opt("inputs").split(",").toSeq, opt("gen-s").split(",").map(_.toDouble).toSeq,
      opt("docs").toLong, opt("rate").toDouble)
    val spark = session(work)
    try run.execute(spark)
    finally spark.stop()
  }

  /** The benchmark's Spark session: `local[4]` with the program's
    * extensions, Spark's scratch files under `work`. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The seed's letter permutation: graft.ScaleSynth's vetted seed list
    * (seed 0 is the identity). */
  def perm(seed: Long): String = {
    val seeds = graft.ScaleSynth.vettedPermSeeds
    graft.ScaleSynth.permAlpha(seeds((seed % seeds.size).toInt))
  }
}

/** Percentile helpers (linear interpolation between closest ranks). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** Highest of p90/p99/p99.9 that still has at least ten samples
    * beyond it, else p50. */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 90.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
}

/** Everything one invocation measures. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: String, launchMs: Long, codeRev: String,
    inputCopies: Seq[String], genS: Seq[Double], val docs: Long, val rate: Double) {
  val tracer = new Tracer(traced)
  /** Latency samples of the workload's unit operation, in ms. */
  val samples = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** Named results printed in the report (name, value, unit, what the
    * value rests on). */
  val report = ArrayBuffer.empty[(String, Double, String, String)]
  /** Input properties recorded with the results. */
  val inputs = ArrayBuffer.empty[(String, String)]
  /** Oracle checks for run.py: name -> (sql, result dir). */
  val oracle = ArrayBuffer.empty[(String, String, String)]
  val notes = ArrayBuffer.empty[String]
  var valid = true
  /** Input tables of the measured set-up copy (the oracle's views). */
  var inputsDir = ""
  /** Spark counters, present in the traced run only. */
  var counters: Option[Counters] = None

  def now: Double = System.nanoTime() / 1e9

  def execute(spark: SparkSession): Unit = {
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val loadavg = try Files.readString(Paths.get("/proc/loadavg")).trim
      .split(" ")(0).toDouble catch { case NonFatal(_) => -1.0 }
    counters = if (traced) Some(new Counters(spark)) else None
    counters.foreach(_.install())
    val w: Workload = workload match {
      case "refinery" => new Refinery(this)
      case "query_mix" => new QueryMix(this)
      case "ingest" => new Ingest(this)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up runs once per input copy (generation, then the workload's
    // own initialisation such as store writes); the last copy is the one
    // measured. setup_s = process start to session + median set-up.
    val setups = inputCopies.zip(genS).map { case (dir, g) =>
      val t0 = now
      w.setup(spark, dir)
      g + (now - t0)
    }
    val setupS = sessionS + Stats.median(setups)
    w.cold(spark)
    val before = counters.map(_.snapshot())
    val cpu0 = cpuJiffies
    val t0 = now
    tracer.active = true
    tracer.span("workload", workload) { w.measure(spark) }
    tracer.active = false
    val wallS = now - t0
    // high-water mark of the set-ups, the cold pass and the window; read
    // before the checks and the traced run's function timings
    val rssMb = peakRssMb
    val cpu1 = cpuJiffies
    val stealFrac = (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1)
    val after = counters.map(_.snapshot())
    val coldS = w.coldS
    w.check(spark)
    val layer = counters.map(c => layerMetrics(c, before.get, after.get, wallS,
      w, spark)).getOrElse(Map.empty)

    val tp = w.throughput
    val tail = Stats.tailPct(samples.size)
    val e2e = Seq(
      ("setup_s", setupS, "s", setups.size),
      ("cold_s", coldS, "s", 1),
      ("p50_ms", Stats.median(samples.toSeq), "ms", samples.size),
      ("tail_ms", Stats.pct(samples.toSeq, tail), "ms", samples.size),
      ("throughput_per_s", tp, "1/s", samples.size),
      ("peak_rss_mb", rssMb, "MB", 1))
    val posture = Seq(
      "cores" -> Main.Cores.toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> f"${Runtime.getRuntime.maxMemory / 1e6}%.0f",
      "loadavg_at_start" -> loadavg.toString,
      "code_rev" -> codeRev,
      "valid" -> valid.toString,
      "wall_s" -> f"$wallS%.3f",
      "cpu_steal_frac_in_window" -> f"$stealFrac%.4f",
      "setup_each_s" -> setups.map(s => f"$s%.3f").mkString(","),
      "tail_ms_percentile" -> (if (tail.isWhole) s"p${tail.toInt}" else s"p$tail")) ++
      sparkConf(spark)
    writeResult(e2e, layer, posture)
    Files.writeString(Paths.get(s"$work/spans.json"), tracer.toJson)
  }

  /** (all, steal) jiffies of the machine, from /proc/stat. */
  private def cpuJiffies: (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f.sum, if (f.length > 7) f(7) else 0L)
  } catch { case NonFatal(_) => (0L, 0L) }

  /** Most RDDs left persisted after any one operation of the window. */
  var persistedMax = 0
  def notePersisted(spark: SparkSession): Unit =
    persistedMax = math.max(persistedMax, spark.sparkContext.getPersistentRDDs.size)

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  private def sparkConf(spark: SparkSession): Seq[(String, String)] = {
    val keys = Seq("spark.sql.codegen.cache.maxEntries" -> "100",
      "spark.sql.shuffle.partitions" -> "", "spark.sql.adaptive.enabled" -> "",
      "spark.sql.autoBroadcastJoinThreshold" -> "",
      "spark.sql.codegen.wholeStage" -> "", "spark.sql.extensions" -> "",
      "spark.io.compression.codec" -> "lz4", "spark.master" -> "")
    keys.map { case (k, d) =>
      s"conf.$k" -> spark.conf.getOption(k).orElse(
        spark.sparkContext.getConf.getOption(k)).getOrElse(d)
    }
  }

  private def layerMetrics(c: Counters, b: Map[String, Double],
      a: Map[String, Double], wallS: Double, w: Workload,
      spark: SparkSession): Map[String, Double] = {
    def d(k: String) = a.getOrElse(k, 0.0) - b.getOrElse(k, 0.0)
    val spans = tracer.spans
    def named(n: String) = spans.filter(_.name == n)
    val counted = Seq("plans.analysis_ms", "plans.optimizer_ms",
      "plans.planning_ms", "plans.query_executions", "codegen.compiles",
      "codegen.compile_ms", "sched.jobs", "sched.stages", "sched.tasks",
      "sched.task_overhead_ms", "task.run_ms", "task.cpu_ms", "task.gc_ms",
      "shuffle.write_mb", "shuffle.write_ms", "shuffle.read_mb",
      "shuffle.fetch_wait_ms", "shuffle.exec_count", "shuffle.spill_mb",
      "tables.input_mb", "tables.input_records", "sink.output_mb",
      "sink.write_ms")
      .map(k => k -> d(k)).toMap
    val self = tracer.selfMs
    val selfLayers = Seq("op", "operators.build", "sink.write", "query",
      "query.collect", "streaming.batch", "streaming.sign", "streaming.gate_batch",
      "streaming.cc_batch", "streaming.compact")
    val fn = textFunctionsMs(spark.read.parquet(s"$inputsDir/documents.parquet"))
    counted ++ Map(
      "operators.build_ms" -> named("operators.build").map(_.ms).sum,
      "operators.build_jobs" -> c.jobsIn(named("operators.build")).toDouble,
      "operators.persisted_after_op" -> persistedMax.toDouble,
      "functions.minhash_ms" -> fn._1,
      "functions.ngrams_ms" -> fn._2,
      "sched.idle_core_frac" -> (1 - d("task.run_ms") / (wallS * 1000 * Main.Cores)),
      "sink.output_files" -> w.outputFiles.toDouble,
      "self.unattributed_ms" -> self.getOrElse("workload", 0.0),
      "traced.p50_ms" -> Stats.median(samples.toSeq),
      "traced.throughput_per_s" -> w.throughput) ++
      selfLayers.map(n => s"self.${n.replace('.', '_')}_ms" -> self.getOrElse(n, 0.0)) ++
      w.streamingMetrics
  }

  /** Median ms of three runs of `df` into a no-op sink. */
  private def noopMs(df: => DataFrame): Double = Stats.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })

  /** (signature ms, n-gram ms): the public text functions over the
    * workload's documents. */
  private def textFunctionsMs(docs: => DataFrame): (Double, Double) = {
    import org.apache.spark.sql.functions.col
    (noopMs(graft.operators.MinHashPipeline.signatures(docs, "doc_id", col("text"))),
      noopMs(docs.select(col("doc_id"), graft.functions.Texts.wordNgrams(
        graft.functions.Texts.tokens(col("text")), 3).as("g"))))
  }

  private def writeResult(e2e: Seq[(String, Double, String, Int)],
      layer: Map[String, Double], posture: Seq[(String, String)]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val sb = new StringBuilder("{\n")
    sb ++= s"""  "workload": ${q(workload)}, "seed": $seed, "seconds": $seconds,""" +
      s""" "trace": ${if (traced) 1 else 0},\n"""
    sb ++= s"""  "attempted": $attempted, "failed": $failed, "inputs_dir": ${q(inputsDir)},\n"""
    sb ++= "  \"end_to_end\": {" + e2e.map { case (n, v, u, k) =>
      s"""${q(n)}: {"value": ${num(v)}, "unit": ${q(u)}, "n": $k}""" }
      .mkString(", ") + "},\n"
    sb ++= "  \"report\": {" + report.map { case (n, v, u, k) =>
      s"""${q(n)}: {"value": ${num(v)}, "unit": ${q(u)}, "n": ${q(k)}}""" }
      .mkString(", ") + "},\n"
    sb ++= "  \"per_layer\": {" + layer.toSeq.sortBy(_._1).map { case (n, v) =>
      s"${q(n)}: ${num(v)}" }.mkString(", ") + "},\n"
    sb ++= "  \"inputs\": {" + inputs.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString(", ") + "},\n"
    sb ++= "  \"posture\": {" + posture.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString(", ") + "},\n"
    sb ++= "  \"notes\": [" + notes.map(q).mkString(", ") + "],\n"
    sb ++= "  \"samples_ms\": [" + samples.map(v => f"$v%.3f").mkString(", ") + "],\n"
    sb ++= "  \"oracle\": [" + oracle.map { case (n, sql, dir) =>
      s"""{"name": ${q(n)}, "sql": ${q(sql)}, "dir": ${q(dir)}}""" }
      .mkString(",\n    ") + "]\n}\n"
    Files.writeString(Paths.get(s"$work/result.json"), sb.toString)
  }
}

/** A workload: set-up (repeatable into fresh directories), a cold pass,
  * the measured window, and checks made after the window. */
trait Workload {
  def setup(spark: SparkSession, dir: String): Unit
  /** Runs the cold (first) operation, before the window. */
  def cold(spark: SparkSession): Unit
  /** Seconds of the cold operation. */
  var coldS: Double = Double.NaN
  def measure(spark: SparkSession): Unit
  def check(spark: SparkSession): Unit
  def throughput: Double
  def outputFiles: Long = 0
  def streamingMetrics: Map[String, Double] = Streaming.zero

  /** Regular files below `dir`. */
  protected def filesUnder(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir))
  }
  /** Parquet data files below `dir`. */
  protected def countFiles(dir: String): Long =
    filesUnder(dir).count(_.getName.startsWith("part-")).toLong
  protected def bytesUnder(dir: String): Long = filesUnder(dir).map(_.length).sum
}

object Streaming {
  val names: Seq[String] = Seq("streaming.gate_batch_ms_p50",
    "streaming.gate_batch_ms_p90", "streaming.cc_batch_ms_p50",
    "streaming.cc_batch_ms_p90", "streaming.jobs_per_batch",
    "streaming.compact_ms", "streaming.compactions", "streaming.open_gens_max",
    "streaming.outcomes_new", "streaming.outcomes_duplicate",
    "streaming.outcomes_version", "streaming.store_mb",
    "streaming.checkpoint_files")
  val zero: Map[String, Double] = names.map(_ -> 0.0).toMap
}
