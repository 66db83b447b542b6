package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.StructType

/** The one way an operator moves a data-dependent frame to the driver,
  * bounded in rows AND bytes both in what the driver keeps and in what
  * the tasks send it.
  *
  * Each task enumerates its partition only until it passes `maxRows`
  * or `maxBytes` (exact `UnsafeRow.getSizeInBytes`, not an estimate),
  * and ships its rows only while they stay within its even share of
  * the caps (caps / partitions); past the share it ships nothing but
  * its counts. So one job sends at most the caps to the driver however
  * large the frame is and however it is spread. The driver sums the
  * counts as task results arrive and drops every kept row the moment
  * the running total overflows, so it never keeps more than the caps.
  * When the whole frame fits but some partitions were over their share
  * (an unevenly spread frame), those partitions, which together fit
  * what the caps leave, ship in one more job over just them.
  * `limit(n).collect()` is no substitute: CollectLimit escalates
  * through several jobs (1 partition, then 4, 16, …) when the frame is
  * SMALLER than the limit, ships up to partitions × n rows, and bounds
  * no bytes.
  *
  * The job runs over a fresh plan of `df`'s logical plan, so a
  * `persist` placed just before the call is honoured.
  */
private[graft] object BoundedCollect {

  sealed trait Cap
  case object RowCap extends Cap
  case object ByteCap extends Cap

  /** The transfer record of one bounded collect. */
  sealed trait Outcome

  /** The whole frame fit: its rows in partition-index order (so the
    * output is deterministic) and their exact byte total.
    */
  final case class Collected(rows: Array[InternalRow], bytes: Long, schema: StructType)
      extends Outcome {
    def toRows: Array[Row] = {
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      rows.map(r => conv(r).asInstanceOf[Row])
    }

    /** The rows as a LocalRelation frame: no recompute of the source. */
    def toFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
      SparkBridge.ofRows(spark, LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows.toSeq))
  }

  /** A cap tripped and nothing was kept. `seenRows`/`seenBytes` count
    * what the tasks enumerated before they stopped (a lower bound on
    * the frame's size); `peakKeptBytes` is the most the driver held at
    * any point of the job.
    */
  final case class Overflow(
      cap: Cap, maxRows: Long, maxBytes: Long,
      seenRows: Long, seenBytes: Long, peakKeptBytes: Long) extends Outcome {
    /** The cap in rows: the row cap, or the byte cap over the mean
      * size of the rows seen.
      */
    def effectiveRows: Long = cap match {
      case RowCap => maxRows
      case ByteCap => if (seenBytes <= 0) 0L else maxBytes * seenRows / seenBytes
    }

    def describe: String = cap match {
      case RowCap => s"row cap $maxRows rows"
      case ByteCap => s"byte cap $maxBytes bytes, effective $effectiveRows rows"
    }
  }

  /** What one task ships: its counts, plus its rows when they fit the
    * task's share of the caps (`None`: counted, rows deferred).
    */
  private final case class Part(rows: Long, bytes: Long, kept: Option[Array[InternalRow]])

  def apply(df: DataFrame, maxRows: Long, maxBytes: Long): Outcome = {
    val (rdd, schema) = rowsOf(df)
    collect(rdd, schema, maxRows, maxBytes)
  }

  /** The rows of a fresh plan of `df`. */
  private def rowsOf(df: DataFrame): (RDD[InternalRow], StructType) = {
    val fresh = SparkBridge.ofRows(df.sparkSession, df.queryExecution.logical)
    (fresh.queryExecution.toRdd, fresh.schema)
  }

  private def ceilDiv(a: Long, b: Int): Long = a / b + (if (a % b == 0) 0 else 1)

  /** The task side: enumerate until the partition passes `maxRows` or
    * `maxBytes`, keeping copies only while within the share.
    */
  private def scan(schema: StructType, maxRows: Long, maxBytes: Long,
      shareRows: Long, shareBytes: Long)
      : (TaskContext, Iterator[InternalRow]) => Part = (_, it) => {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    var buf = Option(scala.collection.mutable.ArrayBuffer.empty[InternalRow])
    var n, b = 0L
    while (it.hasNext && n <= maxRows && b <= maxBytes) {
      val r = it.next() match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }
      n += 1
      b += r.getSizeInBytes
      if (n > shareRows || b > shareBytes) buf = None
      buf.foreach(_ += r.copy())
    }
    Part(n, b, buf.map(_.toArray))
  }

  private def collect(
      rdd: RDD[InternalRow], schema: StructType, maxRows: Long, maxBytes: Long): Outcome = {
    val sc = rdd.sparkContext
    val numParts = rdd.getNumPartitions
    val parts = new Array[Array[InternalRow]](numParts)
    val deferred = scala.collection.mutable.ArrayBuffer.empty[Int]
    var rows, bytes, keptRows, keptBytes, peak = 0L
    var over = false
    def keep(i: Int, p: Part, kept: Array[InternalRow]): Unit = {
      parts(i) = kept
      keptRows += p.rows
      keptBytes += p.bytes
      peak = math.max(peak, keptBytes)
    }
    def drop(): Unit = {
      over = true
      java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
      deferred.clear()
    }
    // each task ships rows only within an even share of the caps, so
    // the job moves at most the caps to the driver however the frame
    // is spread over its partitions
    val (shareRows, shareBytes) =
      if (numParts == 0) (maxRows, maxBytes)
      else (ceilDiv(maxRows, numParts), ceilDiv(maxBytes, numParts))
    sc.runJob(rdd, scan(schema, maxRows, maxBytes, shareRows, shareBytes),
      (i: Int, p: Part) => {
        rows += p.rows
        bytes += p.bytes
        if (over || rows > maxRows || bytes > maxBytes) drop()
        else p.kept match {
          case Some(r) => keep(i, p, r)
          case None => deferred += i
        }
      }: Unit)
    // the frame fits but is unevenly spread: the partitions over their
    // share fit what the caps leave, and ship in ONE more job over just
    // those partitions (a shuffle's map stage is not rerun)
    if (!over && deferred.nonEmpty) {
      val ids = deferred.toIndexedSeq
      val (baseRows, baseBytes) = (keptRows, keptBytes)
      val (remRows, remBytes) = (maxRows - baseRows, maxBytes - baseBytes)
      var rows2, bytes2 = 0L
      sc.runJob(rdd, scan(schema, remRows, remBytes, remRows, remBytes), ids,
        (j: Int, p: Part) => {
          rows2 += p.rows
          bytes2 += p.bytes
          // over the remainder only if the frame changed between the
          // two jobs (a nondeterministic plan)
          if (over || rows2 > remRows || bytes2 > remBytes) drop()
          else p.kept.foreach(keep(ids(j), p, _))
        })
      rows = baseRows + rows2
      bytes = baseBytes + bytes2
    }
    if (!over) Collected(parts.flatten, bytes, schema)
    else Overflow(if (rows > maxRows) RowCap else ByteCap,
      maxRows, maxBytes, rows, bytes, peak)
  }

  /** Byte cap of the row-capped gates (join-back, pair plan pick,
    * group stats), aligned with the 64 MB force-broadcast budget of
    * the MoR DV anti-join (LakeTable.DvBroadcastBytes).
    */
  val GateBytes: Long = 64L << 20

  /** One bounded collect of `df`: its rows when they fit the caps,
    * else a frame over the very RDD the gate ran. `df` is computed
    * ONCE either way: past the caps the frame's shuffle map stages (an
    * aggregate's corpus scan) are already done and are skipped, not
    * recomputed — without the cache-build job and the memory a
    * `persist` costs.
    */
  def collectOrFrame(df: DataFrame, maxRows: Long, maxBytes: Long): Either[Collected, DataFrame] = {
    val (rdd, schema) = rowsOf(df)
    collect(rdd, schema, maxRows, maxBytes) match {
      case c: Collected => Left(c)
      case _: Overflow => Right(SparkBridge.rowsFrame(df.sparkSession, rdd, schema))
    }
  }

  /** `left` joined with a small, data-dependent `right` (a quota, a
    * vocabulary) through [[collectOrFrame]] of `right` under
    * (`maxRows`, [[GateBytes]]): when it fits, the rows join back as a
    * broadcast LocalRelation, so `left` never shuffles; past either cap
    * the planner (and AQE at runtime) sizes the join itself.
    */
  def joinBack(
      left: DataFrame, right: DataFrame, cond: Column, joinType: String,
      maxRows: Int): DataFrame =
    left.join(collectOrFrame(right, maxRows, GateBytes)
      .fold(c => broadcast(c.toFrame(left.sparkSession)), identity), cond, joinType)
}
