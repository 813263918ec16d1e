package graft.util

import org.apache.spark.{GraftCallSiteShim, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** One Spark job that computes one partial per partition and folds the
  * partials on the driver in partition order:
  * `merge(…merge(merge(zero, p0), p1)…, pn−1)`.
  *
  * `treeAggregate` and `fold` merge their last partials in the order the
  * tasks finish, so at three or more partitions a floating-point sum can
  * differ from run to run; above one partition `treeAggregate` with
  * `finalAggregateOnExecutor` also adds a shuffle stage. Here the job
  * has one stage, and the result does not depend on task-finish order.
  *
  * Every partial is sent to the driver and held there until the job
  * ends, so the driver holds `n` partials at once: `n × size(P)` of
  * heap, within `spark.driver.maxResultSize`. Keep partials small, or
  * the partition count low, where a partial is large.
  *
  * The per-partition function goes to `SparkContext.runJob` inside a
  * named function class, so Spark's closure cleaner finds no lambda to
  * parse (it re-reads and ASM-parses the class file behind each lambda
  * of `mapPartitions`, `treeAggregate`, `fold` and `runJob` on every
  * call). Skipping the cleaner also skips its early serializability
  * check: a non-serializable capture still fails the call, with the
  * `SparkException` Spark raises when it serializes the task, which
  * names the class. An RDD with no partitions runs no job and returns
  * `zero`.
  */
object PartitionFold {

  def apply[T, P: ClassTag, R](rdd: RDD[T], zero: R)(partial: (Int, Iterator[T]) => P)(
      merge: (R, P) => R): R = {
    val n = rdd.partitions.length
    if (n == 0) zero
    else rdd.sparkContext.runJob(rdd, new PartitionTask(partial), 0 until n).foldLeft(zero)(merge)
  }

  /** Runs `body` with the short and the long call site both set to
    * `label`: the jobs it starts carry that name in Spark's logs and
    * listener events, and Spark skips its per-job stack walk. The
    * caller's call site is restored afterwards. */
  def withCallSite[A](sc: SparkContext, label: String)(body: => A): A = {
    import GraftCallSiteShim.{LongForm, ShortForm}
    val short = sc.getLocalProperty(ShortForm)
    val long = sc.getLocalProperty(LongForm)
    sc.setLocalProperty(ShortForm, label)
    sc.setLocalProperty(LongForm, label)
    try body
    finally {
      sc.setLocalProperty(ShortForm, short)
      sc.setLocalProperty(LongForm, long)
    }
  }

  private final class PartitionTask[T, P](partial: (Int, Iterator[T]) => P)
      extends ((TaskContext, Iterator[T]) => P) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[T]): P = partial(ctx.partitionId(), it)
  }
}
