package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** [[Ckpt.stageOnDriver]]: a loop delta comes back as a driver-local
  * relation with its exact row count.
  */
class CkptSpec extends SparkSpec {

  /** `n` single-`long` rows behind a shuffle, so the frame is not local
    * to begin with. */
  private def frame(n: Long) =
    spark.range(0, n, 1, 4).repartition(3).toDF("id")

  test("a delta becomes a LocalRelation with its exact count") {
    val (local, n) = Ckpt.stageOnDriver(frame(5))
    assert(local.queryExecution.logical.isInstanceOf[LocalRelation],
      local.queryExecution.logical.treeString)
    assert(n == 5L)
    assert(local.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }

  test("an empty delta is local with count 0") {
    val (empty, n) = Ckpt.stageOnDriver(frame(0))
    assert(empty.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(n == 0L && empty.collect().isEmpty)
  }
}
