package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving (Metwally et al. 2005) top-k frequent-items summary as a
  * [[Sketch]] for [[SketchAgg]] — ONE-PASS bounded-memory
  * heavy hitters with NO item-keyed shuffle: each task keeps a k-counter
  * summary (map-side partial), partials merge pairwise (the mergeable-
  * summaries composition: an item absent from a summary contributes that
  * summary's min-count as its upper bound), and the one merged row comes
  * back to the driver. At 100 TB this replaces the full
  * groupBy(token).count() exchange for "what are the frequent items"
  * questions — the summary is O(k) per task regardless of corpus size.
  *
  * Guarantees (the published ones, pinned by TopKAggSpec):
  *  - estimate cnt >= true count >= cnt - err (one-sided, like CMS);
  *  - any item with true count > N/k is present in the summary;
  *  - when total distinct items <= k the summary is EXACT (no eviction
  *    ever happens, every err = 0) at any partitioning/merge order —
  *    which is what makes the catalog entry sk_spacesaving_topk
  *    oracle-gateable by hash equality.
  *
  * The result is array<struct<item,cnt,err>> sorted by (cnt desc, item).
  */
case class SpaceSaving(k: Int) extends Sketch[SpaceSavingSummary] {
  def name: String = "spacesaving_topk"
  def accepts(t: DataType): Boolean = t == StringType
  def inputName: String = "a STRING"
  def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)
  def empty: SpaceSavingSummary = new SpaceSavingSummary(k)
  def add(b: SpaceSavingSummary, v: Any): Unit =
    b.add(v.asInstanceOf[UTF8String].toString)
  def merge(b: SpaceSavingSummary, o: SpaceSavingSummary): Unit = b.mergeWith(o)
  def result(b: SpaceSavingSummary): Any =
    new GenericArrayData(b.sortedEntries.map { case (item, cnt, err) =>
      InternalRow(UTF8String.fromString(item), cnt, err)
    })
  def toBytes(b: SpaceSavingSummary): Array[Byte] = b.toBytes
  def fromBytes(bytes: Array[Byte]): SpaceSavingSummary =
    SpaceSavingSummary.fromBytes(k, bytes)
}

/** The mutable k-counter summary: item -> (count, err). */
final class SpaceSavingSummary(val k: Int) {
  private[plans] val counters = mutable.HashMap.empty[String, (Long, Long)]

  /** An item absent from this summary has true count <= minCount. While
    * the summary is under capacity every seen item is present, so the
    * bound for absentees is 0.
    */
  private def minCount: Long =
    if (counters.size < k) 0L
    else counters.valuesIterator.map(_._1).min

  def add(item: String): Unit = counters.get(item) match {
    case Some((c, e)) => counters(item) = (c + 1, e)
    case None =>
      if (counters.size < k) counters(item) = (1L, 0L)
      else {
        // evict the min-count counter (deterministic tiebreak by item so
        // single-partition runs are reproducible); the newcomer inherits
        // its count as both base and error
        val (evItem, (evCnt, _)) =
          counters.minBy { case (i, (c, _)) => (c, i) }
        counters.remove(evItem)
        counters(item) = (evCnt + 1, evCnt)
      }
  }

  def mergeWith(o: SpaceSavingSummary): Unit = {
    val mSelf = minCount
    val mOther = o.minCount
    val merged = mutable.HashMap.empty[String, (Long, Long)]
    for ((i, (c, e)) <- counters) o.counters.get(i) match {
      case Some((c2, e2)) => merged(i) = (c + c2, e + e2)
      case None => merged(i) = (c + mOther, e + mOther)
    }
    for ((i, (c2, e2)) <- o.counters if !counters.contains(i))
      merged(i) = (c2 + mSelf, e2 + mSelf)
    counters.clear()
    if (merged.size <= k) counters ++= merged
    else counters ++= merged.toSeq
      .sortBy { case (i, (c, _)) => (-c, i) }.take(k)
  }

  /** (item, cnt, err) sorted by cnt desc, item asc. */
  def sortedEntries: Array[(String, Long, Long)] =
    counters.toArray.map { case (i, (c, e)) => (i, c, e) }
      .sortBy { case (i, c, _) => (-c, i) }

  def toBytes: Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(counters.size)
    for ((i, (c, e)) <- counters) {
      val b = i.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b)
      out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }
}

object SpaceSavingSummary {
  def fromBytes(k: Int, bytes: Array[Byte]): SpaceSavingSummary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new SpaceSavingSummary(k)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      val item = new String(b, "UTF-8")
      val c = in.readLong(); val e = in.readLong()
      s.counters(item) = (c, e)
      i += 1
    }
    s
  }
}

object TopKAgg {
  /** Column face: SpaceSaving top-k summary of a string column. */
  def spaceSavingTopK(c: Column, k: Int): Column =
    SketchAgg.aggregate(c, SpaceSaving(k))
}
