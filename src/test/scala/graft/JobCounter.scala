package graft

import org.apache.spark.sql.SparkSession

/** Counts Spark jobs started, and stages actually run with their
  * tasks, while registered on the session's listener bus. A stage
  * whose shuffle output is already available is skipped, never
  * submitted, so a job that only reads a held shuffle runs exactly one
  * stage: its result stage.
  */
class JobCounter(spark: SparkSession) {
  private val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stages = new java.util.concurrent.atomic.AtomicInteger(0)
  private val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
  private val listener = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageSubmitted(
        ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(ss.stageInfo.numTasks)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** (jobs, stages run) once the listener bus stops moving. */
  def settle(): (Int, Int) = {
    var last = -1; var cur = jobs.get(); var spins = 0
    while (cur != last && spins < 40) {
      last = cur; Thread.sleep(100); cur = jobs.get(); spins += 1
    }
    (cur, stages.get())
  }
  /** Tasks of the stages run, read after [[settle]]. */
  def tasksRun: Int = tasks.get()
  def reset(): Unit = { settle(); jobs.set(0); stages.set(0); tasks.set(0) }
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
