package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A dense long[slots] histogram [[Sketch]]: partials merge by vector
  * add, the buffer ships as `slots` big-endian longs, and the result is
  * array<long> indexed by slot. Subclasses only say which slots an input
  * value counts into.
  */
abstract class DenseHist(slots: Int) extends Sketch[Array[Long]] {
  final def dataType: DataType = ArrayType(LongType, containsNull = false)
  final def empty: Array[Long] = new Array[Long](slots)

  final def merge(b: Array[Long], o: Array[Long]): Unit = {
    var i = 0
    while (i < slots) { b(i) += o(i); i += 1 }
  }

  final def result(b: Array[Long]): Any = new GenericArrayData(b)

  final def toBytes(b: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](slots * 8)
    val bb = java.nio.ByteBuffer.wrap(out)
    var i = 0
    while (i < slots) { bb.putLong(b(i)); i += 1 }
    out
  }

  final def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val b = new Array[Long](slots)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < slots) { b(i) = bb.getLong(); i += 1 }
    b
  }
}

/** Character-bigram histogram over an ASCII string column as a
  * [[DenseHist]]: one dense long[128*128] per task, updated
  * by a tight byte loop, partials merged by vector add — NO per-bigram
  * row explosion and no bigram-keyed shuffle. This replaces the
  * explode(transform(sequence...)) + groupBy model-build of
  * ta_bigram_typicality, whose Generate materialized one row per
  * character position of the corpus (the measured cost of that query's
  * model pass at sf0.1 was ~1.5 s of its ~2 s total; the histogram
  * aggregate computes the identical counts in one compiled pass).
  *
  * Scale shape: O(16384) state per task at ANY corpus size; the single
  * merged row is the trained model artifact (131 KiB), same bounded-
  * model contract as the LM/DSIR bucket tables.
  *
  * Input contract: the child string must be printable ASCII (the caller
  * strips [^ -~] first); bytes >= 128 would alias buckets, so add
  * masks to 7 bits exactly as code = (c1 & 0x7f) << 7 | (c2 & 0x7f) —
  * for the in-contract alphabet this is the identity.
  *
  * The result is array<long> of length 16384, index = c1*128 + c2; for
  * 2-char ASCII strings the index order IS the lexicographic bigram
  * order, so "count desc, bigram asc" rankings read directly off the
  * dense array.
  */
case object CharBigrams extends DenseHist(128 * 128) {
  def name: String = "char_bigram_hist"
  def accepts(t: DataType): Boolean = t == StringType
  def inputName: String = "a STRING"

  def add(b: Array[Long], v: Any): Unit = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var i = 1
    while (i < bytes.length) {
      b(((bytes(i - 1) & 0x7f) << 7) | (bytes(i) & 0x7f)) += 1L
      i += 1
    }
  }
}

/** Hashed word-n-gram bucket histogram (the TRAIN pass of the hashed-
  * feature model family — LM unigram buckets, DSIR bigram buckets) as a
  * [[DenseHist]]: dense long[mod] per task, each gram counted into slot
  * pmod(TextHashBridge.gramHash, mod) — the gram hash the scoring pass
  * uses — with no per-row bucket array; partials merged by vector add.
  * Replaces the explode(hashed_gram_buckets) + groupBy(bucket) model
  * build (now the test reference GramBucketsReference), which
  * materialized one row per gram occurrence of the corpus through a
  * Generate — the histogram computes identical counts with O(mod)
  * state and no bucket-keyed shuffle.
  */
case class HashedGrams(n: Int, seed: Long, mod: Int) extends DenseHist(mod) {
  require(n >= 1 && mod >= 1, "hashed_gram_hist needs n >= 1, mod >= 1")

  def name: String = "hashed_gram_hist"
  def accepts(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  def inputName: String = "an ARRAY<STRING>"

  def add(b: Array[Long], v: Any): Unit = {
    val toks = v.asInstanceOf[ArrayData]
    val m = TextHashBridge.gramCount(toks, n)
    var i = 0
    while (i < m) {
      b(Math.floorMod(TextHashBridge.gramHash(toks, i, n, seed), mod)) += 1L
      i += 1
    }
  }
}

object BigramHistAgg {
  /** Column face: dense hashed word-n-gram bucket histogram of a token-
    * array column (pmod(polyHash(gram, seed), mod) slots).
    */
  def hashedGramHist(c: Column, n: Int, seed: Long, mod: Int): Column =
    SketchAgg.aggregate(c, HashedGrams(n, seed, mod))

  /** Column face: dense 16384-slot char-bigram histogram of a string
    * column (printable-ASCII contract; see [[CharBigrams]]).
    */
  def charBigramHist(c: Column): Column =
    SketchAgg.aggregate(c, CharBigrams)

  /** The bigram string for a histogram slot index. */
  def bigramOf(code: Int): String =
    s"${(code >> 7).toChar}${(code & 0x7f).toChar}"
}
