package org.apache.spark

/** Listener-bus barrier for the benchmark's traced runs: returns once
  * every event posted so far has reached every listener, so a reading
  * taken after an op sees all of that op's job, stage and query events.
  * Lives in Spark's package because the bus handle is package-private.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
