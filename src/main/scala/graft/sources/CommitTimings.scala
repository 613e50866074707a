package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Opt-in phase timing for the snapshot commit pipeline (r22, guide §1 —
  * measure before touching the most safety-critical code in the repo).
  * Disabled (one static boolean test, zero allocation) unless the JVM
  * starts with `-Dgraft.commit.timings=true`; the [[graft.CommitProbe]]
  * main enables it and prints the per-phase breakdown over real gates.
  * Thread-safe: LongAdder per phase (the commit path may time phases from
  * sidecar/footer worker threads). */
private[graft] object CommitTimings {
  val enabled: Boolean = java.lang.Boolean.getBoolean("graft.commit.timings") ||
    sys.env.get("GRAFT_COMMIT_TIMINGS").exists(_.equalsIgnoreCase("true"))

  private val nanos = new ConcurrentHashMap[String, LongAdder]()
  private val calls = new ConcurrentHashMap[String, LongAdder]()

  @inline def time[T](phase: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        nanos.computeIfAbsent(phase, _ => new LongAdder).add(System.nanoTime() - t0)
        calls.computeIfAbsent(phase, _ => new LongAdder).increment()
      }
    }

  /** (phase, seconds, calls) sorted by descending time. */
  def snapshot(): Seq[(String, Double, Long)] = {
    import scala.jdk.CollectionConverters._
    nanos.asScala.toSeq.map { case (k, v) =>
      (k, v.sum() / 1e9, Option(calls.get(k)).map(_.sum()).getOrElse(0L))
    }.sortBy(-_._2)
  }

  def reset(): Unit = { nanos.clear(); calls.clear() }
}
