package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.HashMod

/** The original higher-order-function form of the salted polynomial
  * string hash, kept as the executable spec that TextHashBridge.polyHash
  * (and so `TextFunctions.polyHashStr` and every gram hash) is asserted
  * equal to in TextHashExprsSpec.
  */
object HofHashReference {

  /** acc = pmod(acc * 131 + ascii(char), M) per code point, acc0 =
    * seed % M.
    */
  def polyHashStrHof(c: Column, seed: Long): Column = {
    val codes = transform(
      sequence(lit(1), length(c)),
      i => ascii(c.substr(i, lit(1))).cast("long"))
    aggregate(codes, lit(seed % HashMod),
      (acc, x) => pmod(acc * 131 + x, lit(HashMod)))
  }
}
