package graft

import org.apache.spark.sql.SparkSession

/** One shared tuned session for all suites (same factory the driver uses). */
object TestSpark {
  // The suites run in a JVM forked by sbt. A run killed by a timeout
  // kills sbt but not this JVM, which would keep running (and holding its
  // heap) reparented; so halt when the sbt process that forked it exits.
  ProcessHandle.current().parent().ifPresent { parent =>
    parent.onExit().thenRun(() => Runtime.getRuntime.halt(1)): Unit
  }

  lazy val spark: SparkSession = Sessions.build("local[4]", 4)
  val sf: String = "/root/testdata/sf0.001"
}
