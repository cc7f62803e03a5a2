package org.apache.spark.sql.fuserankbench

import org.apache.spark.sql.SparkSession

object Storage {

  /** Memory plus disk bytes of every cached RDD block, read synchronously
    * from the block manager master (the status store behind
    * `getRDDStorageInfo` lags the listener bus). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.valuesIterator)
      .map(b => b.memSize + b.diskSize).sum
}
