package org.apache.spark

/** The one package-private Spark hook the benchmark uses: block until the
  * listener bus has delivered every event posted so far. An action posts
  * its SparkListenerJobEnd before it returns, so after a drain the tracer
  * has seen the end of every job a finished call started.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
