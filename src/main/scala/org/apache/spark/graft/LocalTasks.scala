package org.apache.spark.graft

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{Partition, ShuffleDependency, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.util.Utils

/** Computes an RDD's partitions on the calling thread, one after another,
  * each as a task of its own: what `Executor.TaskRunner` and `Task.run` do
  * around a scheduled task, without the scheduler — no job, no stage and
  * no task-binary broadcast, and no cleaning of the function `f`. That is
  * not all of a statement's fixed cost: the RDDs were built before, and
  * building them cleans their closures (`mapPartitionsWithIndex`,
  * `zipPartitions`) and broadcasts each file scan's Hadoop conf. Only for
  * a lineage with no shuffle ([[narrow]]): a shuffle's map side needs a
  * stage.
  */
object LocalTasks {

  // Below every id the scheduler hands out (from 0 up), and counting up
  // from Long.MinValue clear of the block manager's -1 and -1024 markers.
  private val attemptIds = new AtomicLong(Long.MinValue)

  /** Whether no dependency in `rdd`'s lineage is a shuffle. */
  def narrow(rdd: RDD[_]): Boolean = {
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Boolean = !seen.add(r.id) || r.dependencies.forall {
      case _: ShuffleDependency[_, _, _] => false
      case d => walk(d.rdd)
    }
    walk(rdd)
  }

  /** `f` over each partition of `rdd` in order, on this thread, with the
    * thread's local properties (the SQL confs a query execution propagates
    * among them) as the tasks' properties.
    */
  def run[T, U](rdd: RDD[T])(f: Iterator[T] => U): Seq[U] = {
    val props = Utils.cloneProperties(rdd.sparkContext.getLocalProperties)
    val parts = rdd.partitions
    parts.toSeq.map(p => runTask(rdd, p, parts.length, props, f))
  }

  private def runTask[T, U](rdd: RDD[T], split: Partition, numPartitions: Int,
      props: Properties, f: Iterator[T] => U): U = {
    val env = SparkEnv.get
    val attemptId = attemptIds.getAndIncrement()
    val memory = new TaskMemoryManager(env.memoryManager, attemptId)
    val context = new TaskContextImpl(
      stageId = -1, stageAttemptNumber = 0, partitionId = split.index,
      taskAttemptId = attemptId, attemptNumber = 0, numPartitions = numPartitions,
      taskMemoryManager = memory, localProperties = props,
      metricsSystem = env.metricsSystem)
    env.blockManager.registerTask(attemptId)
    InputFileBlockHolder.initialize()
    TaskContext.setTaskContext(context)
    try {
      try f(rdd.iterator(split, context))
      catch {
        case e: Throwable =>
          try context.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          context.markTaskCompleted(Some(e))
          throw e
      } finally context.markTaskCompleted(None)
    } finally {
      try {
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
      } finally {
        TaskContext.unset()
        InputFileBlockHolder.unset()
        memory.cleanUpAllAllocatedMemory()
        env.blockManager.releaseAllLocksForTask(attemptId)
      }
    }
  }
}
