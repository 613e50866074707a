package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.perfbench.BusDrain
import graft.{Sessions, SparkEntry}
import graft.sources.CommitTimings

/** Closed-loop benchmark driver over the engine's public surface.
  *
  * One driver thread runs a workload's queries one after another
  * (`SparkEntry.queries`, noop sink, `Sessions.local()`): a check pass that
  * collects and fingerprints every output, then timed passes until
  * `--seconds` have elapsed, each pass in its own seeded order. With
  * `--trace 1` every second pass is traced: a SparkListener, a
  * QueryExecutionListener and `CommitTimings` are read per query after the
  * listener bus drains, and the raw per-query records are written out for
  * `perfbench/metrics.py` to reduce. Everything is kept in memory and written
  * once, as JSON, to `--out` when the run ends.
  *
  * Passes continue past `--seconds` until `--min-passes` passes (default 3)
  * and `--min-samples` completed query samples (default 20, so the median
  * has ten samples beyond it) are in; the chase for samples gives up after
  * three times the minimum of passes, so a failing engine still ends.
  * `--dump DIR` also writes every check-pass output as parquet, as
  * `graft.Verify` does, for the DuckDB oracle compare.
  *
  * Usage: Harness --sf DIR --queries q1,q2,... --seed N --seconds S
  *          --trace 0|1 --control QUERY --out FILE [--min-passes N]
  *          [--min-samples N] [--dump DIR]
  */
object Harness {
  final case class Opts(sf: String, queries: Seq[String], seed: Long,
                        seconds: Double, trace: Boolean, control: String,
                        out: String, minPasses: Int, minSamples: Int,
                        dump: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("sf"), m("queries").split(',').filter(_.nonEmpty).toSeq,
      m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("control"), m("out"), m.getOrElse("min-passes", "3").toInt,
      m.getOrElse("min-samples", "20").toInt, m.get("dump"))
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as Spark's listener event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def errorOf(t: Throwable): Map[String, Any] =
    Map("class" -> t.getClass.getName,
      "message" -> String.valueOf(t.getMessage).take(500))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val all = SparkEntry.queries
    val unknown = (o.queries :+ o.control).filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val tSession = nowMs()
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionBuildS = (nowMs() - tSession) / 1e3

    def order(pass: Int): Seq[String] =
      new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.queries)

    // check pass: also the untimed warm-up of every plan
    val tCheck = nowMs()
    val checks = order(-1).map { name =>
      val t0 = nowMs()
      val res = try {
        val df = all(name)(spark, o.sf)
        val rows = df.collect()
        o.dump.foreach(d => graft.Verify.normalizeForOracle(df).coalesce(1).write
          .mode("overwrite").parquet(s"$d/$name"))
        Map("ok" -> true, "fingerprint" -> Fingerprint(rows))
      } catch {
        case t: Throwable => Map("ok" -> false, "error" -> errorOf(t))
      }
      res ++ Map("query" -> name, "s" -> (nowMs() - t0) / 1e3)
    }
    val checkPassS = (nowMs() - tCheck) / 1e3
    o.dump.foreach(d =>
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), json(SparkEntry.oracleSql)))

    def control(): Seq[Double] = (1 to 3).map { _ =>
      val t0 = nowMs()
      try noop(all(o.control)(spark, o.sf)) catch { case _: Throwable => () }
      (nowMs() - t0) / 1e3
    }
    val controlStart = control()

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val firstTimedMs = nowMs()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // traced: at least untraced, traced, untraced, so the overhead baseline
    // is not the warm-up pass alone
    val minPasses = if (o.trace) math.max(o.minPasses, 3) else o.minPasses
    var okSamples = 0
    while (passes.size < minPasses ||
           (okSamples < o.minSamples && passes.size < 3 * math.max(minPasses, 1)) ||
           nowMs() - firstTimedMs < o.seconds * 1e3) {
      val p = passes.size
      // traced runs alternate untraced and traced passes, so the tracing
      // overhead is measured on the same host state
      val traced = tracer.filter(_ => p % 2 == 1)
      traced.foreach(_.attach())
      val pStart = nowMs()
      val samples = order(p).map { name =>
        traced.foreach(_.beginQuery(name))
        val t0 = nowMs()
        var t1 = t0
        val err = try {
          val df = all(name)(spark, o.sf)
          t1 = nowMs()
          traced.foreach(_.constructed(df))
          noop(df)
          None
        } catch { case t: Throwable => Some(errorOf(t)) }
        val t2 = nowMs()
        val base = Map("query" -> name, "start_ms" -> t0, "construct_end_ms" -> t1,
          "end_ms" -> t2, "ok" -> err.isEmpty) ++ err.map("error" -> _)
        traced.fold(base)(tr => base ++ tr.endQuery())
      }
      traced.foreach(_.detach())
      okSamples += samples.count(_("ok") == true)
      passes += Map("pass" -> p, "traced" -> traced.isDefined,
        "start_ms" -> pStart, "end_ms" -> nowMs(), "samples" -> samples)
    }

    val heap = ManagementFactory.getMemoryMXBean
    // what a GC frees can release more for the next one (Spark's
    // ContextCleaner acts on collected references), so take the least used
    // heap over several collections
    val retainedHeapMb = (1 to 5).map { _ =>
      System.gc(); Thread.sleep(100); heap.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
    val controlEnd = control()

    val out = Map(
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "master" -> spark.sparkContext.master,
        "commit_timings" -> CommitTimings.enabled),
      "setup" -> Map(
        "jvm_start_ms" -> jvmStartMs,
        "session_build_s" -> sessionBuildS,
        "check_pass_s" -> checkPassS,
        "first_timed_ms" -> firstTimedMs),
      "control" -> Map("query" -> o.control, "start_s" -> controlStart,
        "end_s" -> controlEnd),
      "checks" -> checks,
      "passes" -> passes.toSeq,
      "retained_heap_mb" -> retainedHeapMb)
    Files.writeString(Paths.get(o.out), json(out))
    spark.stop()
    System.exit(0)
  }
}

/** Per-query layer recorder for traced passes. Jobs carry the query id and
  * span through a local property; every counter is read after the listener
  * bus has drained. */
private final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private var qid = 0L
  // written on the listener-bus thread, read after a drain
  private final class Job(val startMs: Double, val span: String) { var endMs: Any = null }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var peakMem = 0L
  private var commit0 = Map.empty[String, (Double, Long)]

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    sc.setLocalProperty("perfbench.span", null)
  }

  private def commitNow(): Map[String, (Double, Long)] =
    CommitTimings.snapshot().map { case (p, s, c) => p -> (s, c) }.toMap

  def beginQuery(name: String): Unit = {
    BusDrain(sc)
    synchronized { jobs.clear(); phases.clear(); sums.clear(); peakMem = 0L }
    commit0 = commitNow()
    qid += 1
    span("construct")
  }

  def span(name: String): Unit = sc.setLocalProperty("perfbench.span", s"$qid/$name")

  /** The returned DataFrame was analyzed while it was built; its tracker
    * holds that analysis phase, which no listener reports because the
    * DataFrame itself never executes (the noop write wraps its plan). */
  def constructed(df: DataFrame): Unit = {
    synchronized {
      df.queryExecution.tracker.phases.get("analysis").foreach { s =>
        phases += Map("qe" -> "dataframe", "phase" -> "analysis",
          "start_ms" -> s.startTimeMs.toDouble, "end_ms" -> s.endTimeMs.toDouble)
      }
    }
    span("execute")
  }

  def endQuery(): Map[String, Any] = {
    BusDrain(sc)
    val commit = commitNow().map { case (p, (s, c)) =>
      val (s0, c0) = commit0.getOrElse(p, (0.0, 0L))
      p -> Map("s" -> (s - s0), "calls" -> (c - c0))
    }.filter(_._2("calls") != 0L)
    synchronized {
      Map("qid" -> qid,
        "jobs" -> jobs.toSeq.map { case (id, j) =>
          Map("id" -> id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "span" -> j.span)
        },
        "phases" -> phases.toSeq,
        "tasks" -> (sums.toMap + ("peak_mem_bytes" -> peakMem.toDouble)),
        "commit" -> commit)
    }
  }

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
    jobs(e.jobId) = new Job(e.time.toDouble, span.orNull)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
    add("tasks", e.stageInfo.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_records", m.inputMetrics.recordsRead.toDouble)
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  // Catalyst phases of every QueryExecution that ran, including the noop
  // write's own: the optimization and planning phases of the Dataset handed
  // back by the query function never run and read zero.
  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases += Map("qe" -> funcName, "phase" -> phase,
        "start_ms" -> s.startTimeMs.toDouble, "end_ms" -> s.endTimeMs.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
}

/** Order-insensitive content hash of a query's output, with its row count.
  * Floating-point values are rounded to six significant digits, so a
  * different summation order between runs cannot change the hash. */
private[perfbench] object Fingerprint {
  private val mc = new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN)

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null                         => "∅"
    case d: Double                    => dbl(d)
    case f: Float                     => dbl(f.toDouble)
    case b: java.math.BigDecimal      => b.stripTrailingZeros.toPlainString
    case b: Array[Byte]               => b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp        => t.toInstant.toString
    case r: Row                       => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]   => s.map(canon).mkString("[", ",", "]")
    case other                        => other.toString
  }

  def apply(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0xbe7c).toLong & 0xffffffffL)
    }
    f"${rows.length}:$sum%016x"
  }
}
