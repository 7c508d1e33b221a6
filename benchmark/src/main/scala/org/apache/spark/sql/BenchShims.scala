package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.CollectionAccumulator

/** The benchmark's bridge into `private[spark]` surface: draining the
  * listener bus, and splicing a timed RDD between two operators of a
  * DataFrame without converting rows.
  */
object BenchShims {

  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `df` with `wrap` applied to its internal row RDD. */
  def mapInternal(df: DataFrame)(wrap: RDD[InternalRow] => RDD[InternalRow]): DataFrame = {
    val ss = df.sparkSession.asInstanceOf[classic.SparkSession]
    ss.internalCreateDataFrame(wrap(df.queryExecution.toRdd), df.schema)
  }

  def internalRdd(df: DataFrame): RDD[InternalRow] = df.queryExecution.toRdd
}

/** One task-side span: the partition's interval, from the moment it is
  * requested until its iterator is exhausted, the part of it spent
  * inside calls to the wrapped iterator (`busy`), and the rows it
  * produced. */
case class TaskSpan(name: String, partition: Int, start: Long, end: Long,
    busy: Long, rows: Long)

/** Times every partition of `prev`. Spliced above an operator it gives
  * the operator's span; spliced below, its `busy` time is the time the
  * operator spent in its child (calls into one iterator are sequential,
  * so their union is their sum). */
class SpanRDD[T: ClassTag](prev: RDD[T], name: String,
    acc: CollectionAccumulator[TaskSpan]) extends RDD[T](prev) {

  override protected def getPartitions: Array[Partition] = prev.partitions

  override def compute(split: Partition, ctx: TaskContext): Iterator[T] = {
    val t0 = System.nanoTime()
    val it = prev.iterator(split, ctx)
    var busy = System.nanoTime() - t0
    var rows = 0L
    var done = false
    new Iterator[T] {
      override def hasNext: Boolean = {
        val a = System.nanoTime()
        val h = it.hasNext
        val b = System.nanoTime()
        busy += b - a
        if (!h && !done) {
          done = true
          acc.add(TaskSpan(name, split.index, t0, b, busy, rows))
        }
        h
      }
      override def next(): T = {
        val a = System.nanoTime()
        val v = it.next()
        busy += System.nanoTime() - a
        rows += 1
        v
      }
    }
  }
}
