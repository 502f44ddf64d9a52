package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter sketch as a native
  * [[TypedImperativeAggregate]]: one pass, ≤ `k` counters per buffer,
  * mergeable — `freq_sketch(tok, k)` returns the candidate heavy
  * hitters of a 100 TB token stream while shipping O(k) state per
  * partition instead of shuffling the full distinct-key space the
  * exact `groupBy(tok).count` top-k pays (q08/q72's
  * TakeOrderedAndProject still shuffles one row per DISTINCT key; at
  * billions of distinct tokens the sketch is the only shippable
  * shape).
  *
  * Guarantees (classic Misra–Gries, preserved under merge):
  *   - stored count c undercounts: c ≤ true ≤ c + err, where `err` is
  *     the sketch-wide maximum subtracted amount (reported per row);
  *   - NO FALSE NEGATIVES above the bar: any item with true count
  *     > N/(k+1) over N total observations is in the sketch;
  *   - merge sums counters then re-prunes to k, adding the pruned
  *     decrement into `err` (Agarwal et al.'s mergeable-summaries
  *     result).
  *
  * Output: array<struct<item string, count_min long, err long>>,
  * sorted (count_min DESC, item ASC) so results are deterministic for
  * a given partitioning; exact counts of survivors can be recovered
  * with one cheap semi-join pass when needed (the q61/q72 broadcast
  * membership shape).
  */
case class FreqSketch(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[FreqSketch.Buffer]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"freq_sketch requires a STRING column, got ${child.dataType}")
    else if (k < 1 || k > 100000)
      TypeCheckResult.TypeCheckFailure(
        s"freq_sketch k must be in [1, 100000], got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_min", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = "freq_sketch"

  override def createAggregationBuffer(): FreqSketch.Buffer =
    new FreqSketch.Buffer(k)

  override def update(buf: FreqSketch.Buffer, input: InternalRow): FreqSketch.Buffer = {
    val v = child.eval(input)
    // Keys stay UTF8String end-to-end — no per-row decode to
    // java.lang.String. The buffer copies on first insert (the eval
    // value points into a reused row buffer); increments hash the
    // transient bytes without copying.
    if (v != null) buf.add(v.asInstanceOf[UTF8String], 1L)
    buf
  }

  override def merge(a: FreqSketch.Buffer, b: FreqSketch.Buffer): FreqSketch.Buffer = {
    a.mergeIn(b)
    a
  }

  override def eval(buf: FreqSketch.Buffer): Any = {
    // Ties sort in UTF8String binary order — the same order Spark SQL
    // gives StringType comparisons.
    implicit val ord: Ordering[UTF8String] =
      (a: UTF8String, b: UTF8String) => a.binaryCompare(b)
    val rows: Array[Any] = buf.counts.toArray
      .sortBy { case (item, c) => (-c, item) }
      .map { case (item, c) => InternalRow(item, c, buf.err) }
    new GenericArrayData(rows)
  }

  override def serialize(buf: FreqSketch.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeLong(buf.err)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (item, c) =>
      // int length + raw UTF-8 bytes: writeUTF caps items at 64 KiB and
      // would fail the whole aggregation on a pathological token.
      val b = item.getBytes
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): FreqSketch.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new FreqSketch.Buffer(in.readInt())
    buf.err = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.counts.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketch =
    copy(child = newChild)
}

object FreqSketch {
  /** ≤ k counters + the cumulative decrement bound. Decrementing all
    * counters by the minimum on overflow (the Misra–Gries step) keeps
    * c ≤ true ≤ c + err for every tracked item. */
  final class Buffer(val k: Int) {
    val counts: mutable.HashMap[UTF8String, Long] = mutable.HashMap.empty
    var err: Long = 0L

    def add(item: UTF8String, by: Long): Unit = {
      counts.get(item) match {
        case Some(c) => counts.update(item, c + by)
        case None =>
          // copy: `item` may point into a reused row/scan buffer
          counts.update(item.clone(), by)
          if (counts.size > k) prune()
      }
    }

    /** Subtract the minimum count from everyone, drop ≤ 0 — the batch
      * form of the textbook decrement loop (equivalent outcome, one
      * pass). */
    private def prune(): Unit = {
      val minC = counts.valuesIterator.min
      err += minC
      counts.filterInPlace { case (_, c) => c > minC }
      counts.mapValuesInPlace { case (_, c) => c - minC }
    }

    def mergeIn(other: Buffer): Unit = {
      other.counts.foreach { case (item, c) =>
        counts.update(item, counts.getOrElse(item, 0L) + c)
      }
      err += other.err
      // Re-prune to k: subtract the (k+1)-th largest count (merge rule
      // from the mergeable-summaries construction).
      if (counts.size > k) {
        val sorted = counts.values.toArray
        java.util.Arrays.sort(sorted)
        val cut = sorted(sorted.length - k - 1) // (k+1)-th largest
        err += cut
        counts.filterInPlace { case (_, c) => c > cut }
        counts.mapValuesInPlace { case (_, c) => c - cut }
      }
    }
  }
}
