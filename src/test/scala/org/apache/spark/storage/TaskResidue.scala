package org.apache.spark.storage

import org.apache.spark.SparkEnv

/** What a finished task can leave behind in this process's SparkEnv. */
object TaskResidue {

  /** Execution memory some task still holds, in bytes. */
  def executionMemoryUsed: Long = SparkEnv.get.memoryManager.executionMemoryUsed

  /** Blocks some task or thread holds a read or write lock on. */
  def lockedBlocks: Seq[BlockId] =
    SparkEnv.get.blockManager.blockInfoManager.entries.collect {
      case (id, info) if info.readerCount > 0 || info.writerTask != BlockInfo.NO_WRITER => id
    }.toSeq
}
