package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Measures the candidates for the query_mix list: every catalog query
  * named sql_q*, ix_*, orp_search*, m<digit>*, w<digit>* or ta_*, over
  * the tables in the input directory. Per query: rows collected, the
  * jobs started while the query is built (parquet footer reads, whose
  * stage is named `parquet at ...`, and any other), bytes written to
  * files, the time of a cold run and the median of three warm runs
  * (build + collect; a query whose cold run takes over 6 s gets no warm
  * runs). Writes one tab-separated line per query.
  *
  * Args: INPUT_DIR OUT_TSV WORK_DIR. perfbench/select_queries.py runs it
  * and applies the selection rule. */
object SelectQueries {
  val Candidate = "(sql_q|ix_|orp_search|m[0-9]|w[0-9]|ta_).*".r
  val Header = Seq("query", "cold_ms", "warm_ms", "rows", "footer_jobs",
    "other_build_jobs", "bytes_written", "build_job_stages")

  def main(args: Array[String]): Unit = {
    val Array(in, out, work) = args
    val spark = Main.session(work)
    val jobs = new ConcurrentLinkedQueue[String]()
    val written = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.headOption.map(_.name).getOrElse(""))
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    })
    def drain(): Unit = SparkInternals.drainListenerBus(spark.sparkContext)
    /** (ms, call sites of the jobs started while building, rows) */
    def run(n: String): (Double, Seq[String], Long) = {
      drain(); jobs.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, in)
      val t1 = System.nanoTime()
      drain()
      val built = jobs.asScala.toSeq
      val t2 = System.nanoTime()
      val rows = df.collect().length.toLong
      val ms = (t1 - t0 + System.nanoTime() - t2) / 1e6
      spark.catalog.clearCache()
      (ms, built, rows)
    }
    val lines = SparkEntry.queries.keys.toSeq.filter(Candidate.matches).sorted.map { n =>
      try {
        written.set(0)
        val (cold, built, rows) = run(n)
        val warm = if (cold > 6000) Double.NaN
          else Stats.median((0 until 3).map(_ => run(n)._1))
        drain()
        val footer = built.count(_.startsWith("parquet at"))
        Seq(n, f"$cold%.0f", f"$warm%.0f", rows, footer, built.size - footer,
          written.get, built.distinct.sorted.mkString("; ")).mkString("\t")
      } catch { case NonFatal(e) =>
        s"$n\terror: ${e.getMessage.take(200).replaceAll("\\s+", " ")}"
      }
    }
    Files.writeString(Paths.get(out), (Header.mkString("\t") +: lines)
      .mkString("", "\n", "\n"))
    spark.stop()
  }
}
