package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.operators.{DedupGate, MinHashPipeline}
import graft.streaming.{CcStoreLoop, GateStoreLoop}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

object Refinery {
  val Alpha = "abcdefghijklmnopqrstuvwxyz"
  val Ops: Seq[String] = Seq("dd_minhash_lsh", "dd_jaccard_prefix",
    "dd_cluster_cc", "dg_dedup_gate", "pipe_corpus_refinery")
}

/** Batch corpus-release pass, one client: the five dedup/refinery
  * operators over the corpus under the seed's letter permutation
  * ([[Main.perm]]), each result written to a parquet sink. Unit
  * operation: one operator call (build + write). */
final class Refinery(r: Run) extends Workload {
  import Refinery._
  private var in = ""
  private var out = ""
  private val passes = ArrayBuffer.empty[Double]
  r.inputs += ("ops" -> Ops.mkString(","))

  def setup(spark: SparkSession, dir: String): Unit = {
    val perm = Main.perm(r.seed)
    in = s"$dir/../perm"; out = s"$dir/../out"; r.inputsDir = in
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", translate(col("text"), Alpha, perm))
      .coalesce(1).write.mode("overwrite").parquet(s"$in/documents.parquet")
    r.inputs += ("perm" -> perm)
  }

  private def pass(spark: SparkSession, record: Boolean): Double = {
    val t0 = System.nanoTime()
    for (n <- Ops) {
      val t1 = System.nanoTime()
      r.attempted += 1
      try r.tracer.span("op", n) {
        val df = r.tracer.span("operators.build", n) {
          SparkEntry.queries(n)(spark, in)
        }
        r.tracer.span("sink.write", n) {
          df.write.mode("overwrite").parquet(s"$out/$n")
        }
      } catch { case NonFatal(e) =>
        r.failed += 1; r.notes += s"$n failed: ${e.getMessage.take(300)}"
      }
      if (record) {
        r.samples += (System.nanoTime() - t1) / 1e6
        r.notePersisted(spark)
      }
    }
    spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  def cold(spark: SparkSession): Unit = {
    coldS = pass(spark, record = false)
    r.report += (("first_pass_s", coldS, "s", "1 pass"))
  }

  def measure(spark: SparkSession): Unit = {
    val end = System.nanoTime() + r.seconds * 1000000000L
    do passes += pass(spark, record = true) while (System.nanoTime() < end)
    r.report += (("pass_s", Stats.median(passes.toSeq), "s", s"${passes.size} passes"))
  }

  def throughput: Double = r.docs / Stats.median(passes.toSeq)

  def check(spark: SparkSession): Unit =
    for (n <- Ops) r.oracle += ((n, SparkEntry.oracleSql(n), s"$out/$n"))

  override def outputFiles: Long = countFiles(out)
}

object QueryMix {
  /** Read-only interactive catalog queries, frozen from the measurements
    * in perfbench/query_selection.tsv by perfbench/select_queries.py: no
    * file writes, no job while the query is built but the parquet footer
    * read of each table, a warm time under 2 s on 4 cores, and of those
    * the two with the lowest warm time in each family. */
  val Queries: Seq[String] = Seq(
    "sql_q6", "sql_q19", "ix_phrase_query", "ix_postings",
    "orp_search_by_regulator", "orp_search", "m1_summarise", "m2_title_gate",
    "w4_first_sentence_match", "w8_funnel", "ta_url_domains", "ta_quality_score")
}

/** Closed loop, one client: a cycle over [[QueryMix.Queries]] in one
  * seeded order, repeated, each result collected (`Dataset.collect`). The fixed
  * order makes every run meet the codegen cache the same way (a cyclic
  * working set larger than the cache). Unit operation: one query. */
final class QueryMix(r: Run) extends Workload {
  import QueryMix._
  private var in = ""
  private val order = new scala.util.Random(r.seed).shuffle(Queries)
  private val last = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]
  private var windowS = 0.0

  r.inputs ++= Seq("query_shapes" -> Queries.size.toString,
    "query_order" -> order.mkString(","))

  def setup(spark: SparkSession, dir: String): Unit = { in = dir; r.inputsDir = in }

  private def one(spark: SparkSession, n: String, record: Boolean): Double = {
    val t0 = System.nanoTime()
    r.attempted += 1
    try r.tracer.span("query", n) {
      val df = r.tracer.span("operators.build", n) {
        SparkEntry.queries(n)(spark, in)
      }
      val rows = r.tracer.span("query.collect", n) { df.collect() }
      last(n) = (rows, df.schema)
    } catch { case NonFatal(e) =>
      r.failed += 1; r.notes += s"$n failed: ${e.getMessage.take(300)}"
    }
    if (record) r.notePersisted(spark)
    (System.nanoTime() - t0) / 1e6
  }

  /** The first cycle (cold_s: every query's classes, plans and code
    * loaded and compiled for the first time), then one more unmeasured
    * cycle, so the window starts after the JIT's first round of
    * compilations rather than in it. */
  def cold(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    order.foreach(one(spark, _, record = false))
    coldS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    order.foreach(one(spark, _, record = false))
    r.report ++= Seq(("first_cycle_s", coldS, "s", "1 cycle"),
      ("warmup_cycle_s", (System.nanoTime() - t1) / 1e9, "s", "1 cycle"))
  }

  /** Whole cycles only, so every run samples each query equally often;
    * no further cycle starts with less than half a cycle left. */
  def measure(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + r.seconds * 1000000000L
    var cycleNs = 0L
    do {
      val c0 = System.nanoTime()
      order.foreach(n => r.samples += one(spark, n, record = true))
      cycleNs = System.nanoTime() - c0
    } while (System.nanoTime() + cycleNs / 2 < end)
    windowS = (System.nanoTime() - t0) / 1e9
    val n = s"${r.samples.size} queries"
    r.report ++= Seq(("query_p50_ms", Stats.median(r.samples.toSeq), "ms", n),
      ("query_p90_ms", Stats.pct(r.samples.toSeq, 90), "ms",
        s"$n; below 100, fewer than ten lie beyond it"),
      ("queries_per_s", throughput, "1/s", n))
  }

  def throughput: Double = r.samples.size / windowS

  def check(spark: SparkSession): Unit =
    for ((n, (rows, schema)) <- last) {
      val dir = s"${r.work}/check/$n"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir)
      r.oracle += ((n, SparkEntry.oracleSql(n), dir))
    }

}

/** One arriving document. */
final case class Arrival(uid: Long, text: String, meta: String)

object Ingest {
  /** Open generations that trigger a fold in either store loop: the
    * smaller of the two thresholds the loops' own tests fold at (2 and
    * 3). A 12 s window holds 3-4 micro-batches, so at 2 every run folds
    * each loop once; at 3 a 3-batch run would not fold at all. */
  val MaxOpen = 2
  /** A generator later than this behind its schedule invalidates the run:
    * its arrivals may have missed the micro-batch they were due for. */
  val MaxLatenessMs = 1000.0
}

/** Open loop at a fixed rate from one generator thread. The main
  * thread takes whatever has arrived as one micro-batch, signs it, runs
  * the gate store loop and then the component store loop over the
  * batch's duplicate and version pairs, and lets both fold their open
  * generations. Unit operation: one document, timed from its scheduled
  * arrival to the commit of both loops' generations. */
final class Ingest(r: Run) extends Workload {
  import Ingest._
  private var dir = ""
  private var warmDir = ""
  private var arrivals: Seq[Arrival] = Nil
  private val batches = ArrayBuffer.empty[Seq[Arrival]]
  private val gateMs = ArrayBuffer.empty[Double]
  private val ccMs = ArrayBuffer.empty[Double]
  private val batchJobs = ArrayBuffer.empty[Double]
  private var compactMs = 0.0
  private var compactions = 0
  private var openMax = 0
  private var maxLateMs = 0.0
  private var spanS = 0.0
  private var committed = 0L
  private var outcomeCounts = Map.empty[String, Double]
  private var storeMb = 0.0
  private var localFiles = 0
  r.inputs ++= Seq("offered_rate_per_s" -> r.rate.toString,
    "max_open_generations" -> MaxOpen.toString)

  def setup(spark: SparkSession, dir: String): Unit = {
    val perm = Main.perm(r.seed)
    val letter = Refinery.Alpha.zip(perm).toMap
    // new arrivals are withheld corpus texts under the seed's permutation
    arrivals = spark.read.parquet(s"$dir/arrivals.parquet")
      .select("uid", "text", "meta_key", "kind").collect()
      .map(x => Arrival(x.getLong(0), if (x.getString(3) == "new")
        x.getString(1).map(c => letter.getOrElse(c, c)) else x.getString(1),
        x.getString(2)))
      .sortBy(_.uid).toSeq
    if (warmDir.isEmpty) r.inputs += ("perm" -> perm)
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("node_id"), col("text"), col("lang").as("meta_key"),
        lit("published").as("status"))
    val sigs = MinHashPipeline.signatures(corpus, "node_id", col("text"))
    r.inputsDir = dir
    if (warmDir.isEmpty) warmDir = s"$dir/../store"
    this.dir = s"$dir/../store"
    GateStoreLoop.init(DedupGate.bandedSigStore(corpus.join(sigs, "node_id"), 4, 4),
      s"${this.dir}/gate")
    CcStoreLoop.init(spark, spark.read.parquet(s"$dir/base_edges.parquet"),
      s"${this.dir}/cc")
  }

  private def signed(spark: SparkSession, batch: Seq[Arrival]): DataFrame = {
    import spark.implicits._
    val df = batch.map(a => (a.uid, a.text, a.meta)).toDF("uid", "text", "meta_key")
    df.join(r.tracer.span("operators.build") {
      MinHashPipeline.signatures(df, "uid", col("text")) }, "uid")
      .select("uid", "sig", "meta_key")
  }

  private def openGens(dir: String): Int = {
    val names = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName)
    val base = names.filter(_.startsWith("base_"))
      .flatMap(_.stripPrefix("base_").toLongOption).maxOption.getOrElse(-1L)
    names.filter(_.startsWith("gen_")).flatMap(_.stripPrefix("gen_").toLongOption)
      .count(_ > base)
  }

  /** One micro-batch through both loops; returns the commit time (ns). */
  private def handle(spark: SparkSession, dir: String, batch: Seq[Arrival],
      id: Long, record: Boolean): Long = r.tracer.span("streaming.batch", id.toString) {
    val gate = s"$dir/gate"
    val cc = s"$dir/cc"
    val b = r.tracer.span("streaming.sign") { signed(spark, batch) }
    val t0 = System.nanoTime()
    r.tracer.span("streaming.gate_batch") {
      GateStoreLoop.handleBatch(gate, 4, 4)(b, id)
    }
    val t1 = System.nanoTime()
    r.tracer.span("streaming.cc_batch") {
      val pairs = spark.read.parquet(s"$gate/gen_$id/outcomes")
        .filter(col("outcome") =!= "new")
        .select(col("uid").as("a_id"),
          coalesce(col("matched_node_id"), col("batch_twin")).as("b_id"))
      CcStoreLoop.handleBatch(cc)(pairs, id)
    }
    val commit = System.nanoTime()
    if (record) {
      gateMs += (t1 - t0) / 1e6; ccMs += (commit - t1) / 1e6
      openMax = math.max(openMax, openGens(gate))
      r.notePersisted(spark)
    }
    val c0 = System.nanoTime()
    r.tracer.span("streaming.compact") {
      val g = GateStoreLoop.maybeCompact(spark, gate, MaxOpen, upTo = id)
      val c = CcStoreLoop.maybeCompact(spark, cc, MaxOpen, upTo = id)
      if (record && (g || c)) {
        compactions += Seq(g, c).count(identity)
        compactMs += (System.nanoTime() - c0) / 1e6
      }
    }
    commit
  }

  /** One warm-up micro-batch on the first set-up copy's store: cold_s. */
  def cold(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    handle(spark, warmDir, arrivals.take(20), 0L, record = false)
    coldS = (System.nanoTime() - t0) / 1e9
    r.report += (("first_batch_s", coldS, "s", "1 micro-batch"))
  }

  def measure(spark: SparkSession): Unit = {
    val queue = new java.util.concurrent.LinkedBlockingQueue[(Arrival, Long)]()
    val intervalNs = (1e9 / r.rate).toLong
    val start = System.nanoTime() + 100000000L
    @volatile var late = 0.0
    val gen = new Thread(() => {
      arrivals.zipWithIndex.foreach { case (a, i) =>
        val due = start + i * intervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        late = math.max(late, (System.nanoTime() - due) / 1e6)
        queue.put((a, due))
      }
    }, "graftbench-arrivals")
    gen.setDaemon(true)
    gen.start()
    var id = 0L
    var lastCommit = start
    while (gen.isAlive || !queue.isEmpty) {
      val got = new java.util.ArrayList[(Arrival, Long)]()
      val first = queue.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (first != null) {
        got.add(first); queue.drainTo(got)
        val batch = got.asScala.toSeq
        r.attempted += batch.size
        val j0 = r.counters.map(_.jobStarts.size).getOrElse(0)
        try {
          val commit = handle(spark, dir, batch.map(_._1), id, record = true)
          batch.foreach { case (_, due) => r.samples += (commit - due) / 1e6 }
          committed += batch.size
          lastCommit = commit
          batches += batch.map(_._1)
        } catch { case NonFatal(e) =>
          r.failed += batch.size; r.notes += s"batch $id failed: ${e.getMessage.take(300)}"
        }
        r.counters.foreach { c =>
          org.apache.spark.graftbench.SparkInternals.drainListenerBus(spark.sparkContext)
          batchJobs += (c.jobStarts.size - j0).toDouble
        }
        id += 1
      }
    }
    gen.join()
    maxLateMs = late
    if (maxLateMs > MaxLatenessMs) {
      r.valid = false
      r.notes += f"generator fell $maxLateMs%.1f ms behind its schedule: run invalid"
    }
    spanS = (lastCommit - start) / 1e9
    // block, shuffle and local-checkpoint files the loops left in Spark's
    // local directory (nothing here deletes them but the context cleaner)
    localFiles = filesUnder(s"${r.work}/spark-local").size
    // the per-document samples share the commit times of a few batches:
    // the batch count is the effective sample count
    val n = s"${r.samples.size} docs in ${batches.size} micro-batches"
    val nb = s"${batches.size} micro-batches"
    r.report ++= Seq(("ingest_p50_ms", Stats.median(r.samples.toSeq), "ms", n),
      ("ingest_p90_ms", Stats.pct(r.samples.toSeq, 90), "ms", n),
      ("ingest_docs_per_s", throughput, "1/s", n),
      ("generator_max_lateness_ms", maxLateMs, "ms", s"${arrivals.size} arrivals"),
      ("batch_docs_p50", Stats.median(batches.map(_.size.toDouble).toSeq), "count", nb),
      ("batch_ms_p50", Stats.median(gateMs.zip(ccMs).map { case (g, c) => g + c }.toSeq),
        "ms", nb))
  }

  def throughput: Double = committed / spanS

  /** Replays the same micro-batches through the compact-every-batch
    * reference (classifyStored against the store, then applyOutcomes)
    * and counts the documents whose outcome differs from the loop's. */
  def check(spark: SparkSession): Unit = {
    val gate = s"$dir/gate"
    val keyed = Seq("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    import spark.implicits._
    val none = Seq.empty[Long].toDF("node_id")
    var store = spark.read.parquet(s"$gate/base_-1")
    val ref = batches.map { batch =>
      val b = signed(spark, batch).localCheckpoint(true)
      val o = DedupGate.classifyStored(b, store, 4, 4).localCheckpoint(true)
      store = DedupGate.applyOutcomes(store, b, o, none, 4, 4).localCheckpoint(true)
      o.select(keyed.map(col): _*)
    }.reduce(_ unionByName _).localCheckpoint(true)
    val got = GateStoreLoop.outcomes(spark, gate).select(keyed.map(col): _*)
      .localCheckpoint(true)
    val bad = ref.except(got).select("uid").union(got.except(ref).select("uid"))
      .distinct().count()
    if (bad > 0) {
      r.failed += bad
      r.notes += s"$bad documents classified differently from the reference path"
    }
    outcomeCounts = got.groupBy("outcome").count().collect()
      .map(x => x.getString(0) -> x.getLong(1).toDouble).toMap
    val live = r.docs + outcomeCounts.getOrElse("new", 0.0)
    val bytes = bytesUnder(gate) + bytesUnder(s"$dir/cc")
    storeMb = bytes / 1e6
    r.report += (("store_bytes_per_doc", bytes / live, "B", s"${live.toLong} live docs"))
  }

  override def outputFiles: Long = countFiles(dir)

  override def streamingMetrics: Map[String, Double] = Map(
    "streaming.gate_batch_ms_p50" -> Stats.median(gateMs.toSeq),
    "streaming.gate_batch_ms_p90" -> Stats.pct(gateMs.toSeq, 90),
    "streaming.cc_batch_ms_p50" -> Stats.median(ccMs.toSeq),
    "streaming.cc_batch_ms_p90" -> Stats.pct(ccMs.toSeq, 90),
    "streaming.jobs_per_batch" ->
      (if (batchJobs.isEmpty) 0.0 else Stats.median(batchJobs.toSeq)),
    "streaming.compact_ms" -> compactMs,
    "streaming.compactions" -> compactions.toDouble,
    "streaming.open_gens_max" -> openMax.toDouble,
    "streaming.outcomes_new" -> outcomeCounts.getOrElse("new", 0.0),
    "streaming.outcomes_duplicate" -> outcomeCounts.getOrElse("duplicate", 0.0),
    "streaming.outcomes_version" -> outcomeCounts.getOrElse("version", 0.0),
    "streaming.store_mb" -> storeMb,
    "streaming.checkpoint_files" -> localFiles.toDouble)
}
