package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the block manager master, which Spark keeps private. */
object RddBlocks {

  /** How many blocks of RDD `rddId` the block managers still hold. */
  def count(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds(
      _.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true).size
}
