package org.apache.spark

/** Bridge to `private[spark]` ShutdownHookManager: register a scratch
  * dir for deletion by Spark's own TEMP_DIR-priority shutdown hook —
  * the same mechanism Spark uses for its block-manager temp dirs, so
  * deletion is correctly ordered AFTER streaming-query / SparkContext
  * shutdown (a hand-rolled `Runtime.addShutdownHook` races them).
  * Lives in the `org.apache.spark` package solely to satisfy the
  * access qualifier; the engine-facing surface is
  * [[graft.SparkEnv.scratchDir]].
  */
object GraftScratchBridge {
  def deleteOnExit(dir: java.io.File): Unit =
    util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** Drain the async listener bus — what a measurement tool must call
    * before reading (or resetting) listener-fed counters instead of a
    * fixed sleep (round-16, advisor r15 #3: the 150 ms sleep in
    * tools/StageCensus (removed; last in 672d67d) could miss
    * late-dispatched stage events or leak warm-pass events into the
    * timed window). The library itself never calls it; its caller is
    * the benchmark harness, perfbench/src/main/scala/perfbench/Main.scala.
    * `listenerBus.waitUntilEmpty()` is `private[spark]`, hence the
    * bridge.
    */
  def waitListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** Bridge to `private[spark]` SerializableConfiguration: wrap the
  * session's Hadoop configuration for executor-side FileSystem
  * resolution (round-13 review — a bare `new Configuration()` in a
  * task closure ignores spark.hadoop.* and resolves unqualified paths
  * to the executor-local FS on exactly the clusters the export paths
  * exist for). Same access-qualifier rationale as
  * [[GraftScratchBridge]].
  */
object GraftHadoopConfBridge {
  def broadcastConf(sc: SparkContext)
      : org.apache.spark.broadcast.Broadcast[util.SerializableConfiguration] =
    util.SerializableConfiguration.broadcast(sc, sc.hadoopConfiguration)

  /** The SESSION-level Hadoop conf — `sessionState.newHadoopConf()`
    * overlays the runtime session confs (fs credentials, default-FS
    * overrides set via spark.conf.set) on the context conf, which is
    * what every built-in datasource write resolves with; a
    * context-only conf silently drops per-session settings
    * (round-15 review).
    */
  def broadcastSessionConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[util.SerializableConfiguration] =
    util.SerializableConfiguration.broadcast(spark.sparkContext,
      spark.sessionState.newHadoopConf())
}
