package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Timed battery over SPARK_GRAFT_SF_DIR, one JSON line to stdout.
  *
  * Methodology (VERDICT r2 items 3/4): a full untimed warm pass first, so
  * JVM/JIT/codegen cold-start doesn't land on whichever query iterates
  * first; sink is a noop-format write, not count() — count() lets column
  * pruning drop the select list, under-measuring projection-heavy queries.
  * Each query is then timed TWICE and the per-query minimum is reported:
  * the host shows multi-second waves of external CPU contention (the same
  * query measured back-to-back varies up to 7x), and min-of-2 keeps a
  * contention spike landing on one pass from being read as a plan
  * regression. Min (not mean) is the right statistic when noise is purely
  * additive interference.
  *
  * Output channels (VERDICT r3 item 7 + r4 ADVICE; re-fixed per VERDICT r21
  * item 2): the driver's stdout parser keeps only a ~2000-char tail and has
  * failed to parse the line since r18 because even the "compact" variant
  * (TPC-H + slowest-15 inline) plus the trailing Spark WARN lines overflowed
  * that window. The stdout line is now a SHORT summary — total, n, errors,
  * sf, drift, detail path, NO inline queries map — printed as the very last
  * thing (after spark.stop()), with bench-time logging at ERROR so no WARN
  * noise lands between it and EOF. The full per-query map goes to files: the
  * canonical path from SPARK_GRAFT_BENCH_OUT (default /tmp/graft_bench.json;
  * dev-filtered runs write a ".dev" sibling, never the canonical file) and a
  * second full copy in ./BENCH_LOCAL.json so the repo snapshot carries the
  * latest detail. Timing methodology is UNCHANGED.
  */
object Bench {
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def jsonLine(results: Seq[(String, Double)], sfDir: String,
                       detail: String, drift: Double,
                       compiles: Seq[Long],
                       failures: Seq[(String, Throwable)]): (String, String) = {
    val failed = results.collect { case (k, v) if v < 0 => "\"" + esc(k) + "\"" }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    def qmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + esc(k) + "\":" + f3(v) }.mkString("{", ",", "}")
    val common = s""""value":${f3(total)},"unit":"sec","n":${results.size},""" +
      s""""errors":${failed.mkString("[", ",", "]")},"sf":"${esc(sfDir)}",""" +
      s""""drift":${f3(drift)}"""
    // short stdout line: must fit the driver's ~2000-char tail with room to
    // spare, so no per-query entries inline — they live in the detail file
    val compact = s"""{"metric":"total",$common,"detail":"${esc(detail)}"}"""
    // detail-only: generated classes Janino compiled in each timed pass
    // (Spark's CodegenMetrics; 0 when the warm pass left every class in
    // the cache), and why each failing query failed
    val why = failures.map { case (k, t) =>
      "\"" + esc(k) + "\":{\"class\":\"" + esc(t.getClass.getName) +
        "\",\"message\":\"" + esc(String.valueOf(t.getMessage).take(500)) + "\"}"
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"total",$common,""" +
      s""""compiles_per_pass":${compiles.mkString("[", ",", "]")},""" +
      s""""failures":$why,"queries":${qmap(results)}}"""
    (compact, full)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional dev-only name-substring filter (driver passes no args)
    val flt = if (args.nonEmpty) args(0) else ""
    val spark = Sessions.local()
    // ERROR, not WARN: the driver's tail capture must end with the JSON line,
    // not a run of DataSourceV2Strategy/DAGScheduler WARNs (VERDICT r21 §2)
    spark.sparkContext.setLogLevel("ERROR")
    val queries = SparkEntry.queries.filter(_._1.contains(flt))
    // Warm pass: executes every plan once, so its generated classes are
    // compiled and cached (Sessions sizes Spark's class cache to hold the
    // whole suite's), and buffers are sized. The detail file records the
    // classes each timed pass still compiled.
    queries.foreach { case (_, fn) =>
      try run(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // A query that throws records the sentinel -1.0 (never a normal-looking
    // timing) and lands in "errors" — a broken query must not silently
    // shrink the recorded baseline anchor. Its first exception goes to the
    // detail file's "failures".
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def timedPass(): Seq[(String, Double)] = {
      val c0 = compiled
      val times = queries.toSeq.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { run(fn(spark, sfDir)); true } catch {
          case t: Throwable => failures.getOrElseUpdate(name, t); false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
      compiles += compiled - c0
      times
    }
    val (p1, p2) = (timedPass(), timedPass().toMap)
    val results = p1.map { case (name, v1) =>
      val v2 = p2.getOrElse(name, -1.0)
      // -1.0 (error) dominates: a query must fail the run, not hide behind
      // its other pass
      name -> (if (v1 < 0 || v2 < 0) -1.0 else math.min(v1, v2))
    }
    // Host-contention indicator (VERDICT r7 item 10): rerun the cheapest 5
    // queries at suite end and report Σ(rerun)/Σ(recorded min). On a quiet
    // host this sits near 1; external CPU waves (the documented 7x swings
    // in this suite's history) push it up — so a noisy run is visible in
    // the artifact itself instead of argued about after the fact.
    val cheapest = results.filter(_._2 >= 0).sortBy(_._2).take(5)
    // A crashed rerun must not bias drift DOWN (a 0.0 numerator over a
    // kept denominator would make a noisy run read quiet) — failed reruns
    // drop out of BOTH sums; all-failed reports the -1.0 sentinel.
    val drift = {
      val pairs = cheapest.flatMap { case (name, recorded) =>
        val fn = queries(name)
        val t0 = System.nanoTime()
        try { run(fn(spark, sfDir)); Some(((System.nanoTime() - t0) / 1e9, recorded)) }
        catch { case _: Throwable => None }
      }
      if (pairs.isEmpty) -1.0 else pairs.map(_._1).sum / pairs.map(_._2).sum
    }
    val canonical = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    val out = if (flt.isEmpty) canonical else canonical + ".dev"
    val (compact, full) = jsonLine(results, sfDir, out, drift, compiles.toSeq,
      failures.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    if (flt.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), full + "\n")
      catch { case _: Throwable => () }
    spark.stop()
    // last line of output on purpose: nothing (not even shutdown logging)
    // may land between this and EOF or the driver's tail window loses it
    println(compact)
  }
}
