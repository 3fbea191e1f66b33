package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The one partitioning rule of [[Graft.session]]: one reduce task per task
  * slot, unless the deployment set `spark.sql.shuffle.partitions` itself. */
class OnePartitioningRuleSpec extends AnyFunSuite {
  private val Key = "spark.sql.shuffle.partitions"

  test("the test session runs one shuffle partition per task slot: 4 on local[4]") {
    val spark = SharedSpark.spark
    assert(spark.conf.get(Key).toInt === spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.defaultParallelism === 4)
  }

  test("a deployment-set partition count wins; otherwise the task slots are used") {
    assert(Graft.shufflePartitions(new SparkConf(false).set(Key, "7"), slots = 4) === 7)
    assert(Graft.shufflePartitions(new SparkConf(false), slots = 4) === 4)
  }
}
