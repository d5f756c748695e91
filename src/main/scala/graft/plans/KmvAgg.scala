package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV / bottom-k theta sketch (Bar-Yossef et al. 2002; the Theta-sketch
  * framework of Dasgupta et al.) as a [[Sketch]] for [[SketchAgg]]: the
  * k smallest DISTINCT hash values of the input column. Bounded O(k) state per task, partials merge by set
  * union capped at k — so distinct-count estimation (and, downstream,
  * sketch union/intersection set algebra) costs ONE map-side-combined
  * aggregation with NO value-keyed corpus shuffle: at 100 TB this
  * replaces `SELECT count(DISTINCT v)`'s full exchange the same way
  * [[SpaceSaving]] replaces the groupBy().count() of heavy hitters.
  *
  * Everything downstream is exact integer arithmetic on the returned
  * sorted array<long> (estimate = (k-1)*M div kth-value), so the result
  * is deterministic across engines, partitionings, and merge orders —
  * which is what makes the catalog entry oracle-gateable by hash
  * equality (the DuckDB mirror computes the identical sketch from a
  * sort + limit over distinct hashes).
  *
  * The result is the sketch as array<long>, ascending; fewer than k
  * entries means the input had fewer than k distinct values and the
  * sketch is exact.
  */
case class Kmv(k: Int) extends Sketch[KmvSketch] {
  def name: String = "kmv_sketch"
  def accepts(t: DataType): Boolean = t == LongType
  def inputName: String = "a BIGINT"
  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def empty: KmvSketch = new KmvSketch(k)
  def add(b: KmvSketch, v: Any): Unit = b.add(v.asInstanceOf[Long])
  def merge(b: KmvSketch, o: KmvSketch): Unit = b.mergeWith(o)
  def result(b: KmvSketch): Any = new GenericArrayData(b.sortedValues)
  def toBytes(b: KmvSketch): Array[Byte] = b.toBytes
  def fromBytes(bytes: Array[Byte]): KmvSketch = KmvSketch.fromBytes(k, bytes)
}

/** The mutable bottom-k set: a sorted set of distinct hash values capped
  * at k (insert dedups; past capacity an insert below the current max
  * evicts the max).
  */
final class KmvSketch(val k: Int) {
  private[plans] val values = new java.util.TreeSet[java.lang.Long]()

  def add(v: Long): Unit = {
    if (values.size < k) { values.add(v); () }
    else if (v < values.last()) {
      if (values.add(v)) values.remove(values.last())
    }
  }

  def mergeWith(o: KmvSketch): Unit = {
    val it = o.values.iterator()
    while (it.hasNext) add(it.next())
  }

  def sortedValues: Array[Long] = {
    val out = new Array[Long](values.size)
    val it = values.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def toBytes: Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(values.size)
    val it = values.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }
}

object KmvSketch {
  def fromBytes(k: Int, bytes: Array[Byte]): KmvSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new KmvSketch(k)
    val n = in.readInt()
    var i = 0
    while (i < n) { s.add(in.readLong()); i += 1 }
    s
  }

  /** Column face: bottom-k distinct-hash sketch of a long column. */
  def kmvSketch(c: Column, k: Int): Column =
    SketchAgg.aggregate(c, Kmv(k))
}
