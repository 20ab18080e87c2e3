package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a spec
  * that counts events with a listener reads its count only after every
  * posted event has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Whether a stage is a shuffle-map stage, which Spark also keeps
  * package-private: a spec that counts shuffle stages reads it. */
object ShuffleMapStage {
  def apply(s: org.apache.spark.scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
