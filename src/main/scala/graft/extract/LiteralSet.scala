package graft.extract

/** An Aho-Corasick automaton (Aho and Corasick, CACM 1975) over a fixed
  * set of lowercase ASCII literals: one left-to-right pass over a string
  * gives the first index of every literal in it, with one table step per
  * char, however many literals there are.
  *
  * Chars are mapped to the classes of the chars the literals use, plus
  * class 0 for every other char (including all non-ASCII ones), so the
  * goto table is (states x classes). States are numbered breadth first:
  * a scan spends most chars in the shallow states, whose rows then share
  * a few cache lines.
  */
private[extract] final class LiteralSet(val literals: Array[String]) {
  require(literals.distinct.length == literals.length, "literals must be distinct")
  require(literals.forall(l => l.nonEmpty && l.forall(c => c < 128 && !c.isUpper)),
    "literals must be non-empty lowercase ASCII")

  private val lens = literals.map(_.length)
  private val sym = new Array[Int](128)
  private val nSym: Int = {
    var k = 1
    for (l <- literals; c <- l if sym(c) == 0) { sym(c) = k; k += 1 }
    k
  }
  private val nStates = lens.sum + 1 // at most; the trie may share prefixes
  // step(s * nSym + a): the row offset (state * nSym) after class a from
  // state s, with bit 15 set when a literal ends at that state, so the
  // scan loop does one load per char
  private val step = new Array[Char](nStates * nSym)
  // by state: the literal ending there, and the nearest suffix state that
  // ends one
  private val out = Array.fill(nStates)(-1)
  private val outLink = Array.fill(nStates)(-1)
  require(nStates * nSym < (1 << 15), "too many literals for 15-bit rows")

  {
    // the trie, in insertion order
    val next = Array.fill(nStates * nSym)(-1)
    val ends = Array.fill(nStates)(-1)
    var states = 1
    for ((l, id) <- literals.zipWithIndex) {
      var s = 0
      for (c <- l) {
        val j = s * nSym + sym(c)
        if (next(j) < 0) { next(j) = states; states += 1 }
        s = next(j)
      }
      ends(s) = id
    }
    // breadth first: the order, failure links, the goto function
    // completed through them, and the output links
    val order = new Array[Int](states) // order(0) is the root
    val fail = new Array[Int](states)
    val link = Array.fill(states)(-1)
    var head = 1
    var tail = 1
    for (a <- 0 until nSym) {
      if (next(a) < 0) next(a) = 0
      else { order(tail) = next(a); tail += 1 }
    }
    while (head < tail) {
      val s = order(head)
      head += 1
      for (a <- 0 until nSym) {
        val j = s * nSym + a
        val f = next(fail(s) * nSym + a)
        if (next(j) < 0) next(j) = f
        else {
          val t = next(j)
          fail(t) = f
          link(t) = if (ends(f) >= 0) f else link(f)
          order(tail) = t
          tail += 1
        }
      }
    }
    // renumbered by rank in that order
    val rank = new Array[Int](states)
    for (r <- 0 until states) rank(order(r)) = r
    for (s <- 0 until states) {
      val r = rank(s)
      out(r) = ends(s)
      outLink(r) = if (link(s) < 0) -1 else rank(link(s))
    }
    for (s <- 0 until states; a <- 0 until nSym) {
      val t = next(s * nSym + a)
      val emits = ends(t) >= 0 || link(t) >= 0
      step(rank(s) * nSym + a) = (rank(t) * nSym | (if (emits) 1 << 15 else 0)).toChar
    }
  }

  /** The first index of each literal in `s` (by position in `literals`),
    * -1 where it does not occur.
    */
  def firstIndices(s: String): Array[Int] = {
    val first = new Array[Int](literals.length)
    java.util.Arrays.fill(first, -1)
    var row = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val v = step(row + (if (c < 128) sym(c) else 0))
      row = v & 0x7fff
      if (v >= 0x8000) {
        var o = row / nSym
        if (out(o) < 0) o = outLink(o)
        while (o >= 0) {
          val id = out(o)
          if (first(id) < 0) first(id) = i + 1 - lens(id)
          o = outLink(o)
        }
      }
      i += 1
    }
    first
  }
}
