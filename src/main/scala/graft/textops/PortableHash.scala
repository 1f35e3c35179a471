package graft.textops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one hash family of MinHash, SimHash and LSH.
  *
  * A pure-ARITHMETIC family — character polynomials mod a 31-bit prime,
  * multiply-shift slot derivation, polynomial band combination — where
  * every intermediate stays below 2⁵² so Spark BIGINT, DuckDB BIGINT and
  * IEEE doubles all compute the identical value. The three hash-native
  * queries (q_minhash_pairs, q_simhash_pairs, q_lsh_topk) are
  * therefore checked bit-for-bit against DuckDB twins. Same design as the
  * fingerprint oracle (`TextStats.fingerprint`,
  * `DocQueries.qTextAnalysisSql`), generalized.
  *
  * The native expressions hash UTF-8 bytes; the DuckDB twins hash
  * codepoints. The two agree on ASCII text, which is what
  * [[assertAscii]] guards in the oracle queries.
  */
object PortableHash {

  /** Same 31-bit prime as `TextStats.fingerprint`: products of a hash
    * value with any multiplier below 2²¹ stay under 2⁵² (double-exact,
    * BIGINT-exact). */
  val P: Long = 2147483629L

  /** ASCII gate for the oracle-checked queries (ADVICE r4): the NATIVE
    * expressions (MinHashSignature / SimHashSignature) hash each string's
    * UTF-8 BYTES in a tight loop, while [[charPoly]] and the DuckDB twins
    * hash per-character CODEPOINTS — identical on ASCII, silently
    * divergent on anything else. Rather than let a non-ASCII corpus
    * produce a wrong-but-plausible oracle comparison, fail loudly: passes
    * the text through when `octet_length = char_length` (pure-ASCII ⇔
    * every char is one byte), raises otherwise. Cost: two codegen'd
    * length calls per row. */
  def assertAscii(t: Column): Column =
    when(t.isNull || octet_length(t) === length(t), t)
      .otherwise(raise_error(concat(
        lit("the hash oracle queries are ASCII-only (native loops hash " +
          "UTF-8 bytes; the DuckDB twins hash codepoints — values would " +
          "silently diverge). Non-ASCII text: "),
        substring(t, 1, 48))))

  /** Rolling polynomial over a string's character codes mod [[P]].
    * DuckDB twin:
    * `list_reduce(list_prepend(0, list_transform(range(1, length(s)+1),
    *   i -> unicode(s[i]))), (a, c) -> (a * <mult> + c) % 2147483629)`. */
  def charPoly(s: Column, mult: Long = 131L): Column = {
    require(mult > 0 && mult < (1L << 21), s"multiplier $mult out of exact range")
    aggregate(transform(split(s, ""), ch => ascii(ch).cast("long")), lit(0L),
      (acc, c) => pmod(acc * mult + c, lit(P)))
  }

  /** Polynomial combination of a long-array slice with an integer seed —
    * the portable band hash: fold starting at `init`, step
    * `(acc * 1000003 + v) mod P`. DuckDB twin: `list_reduce(
    * list_prepend(CAST(<init> AS BIGINT), <slice>), (a, v) ->
    * (a * 1000003 + v) % 2147483629)`. */
  def polyCombine(arr: Column, init: Column): Column =
    aggregate(arr, init.cast("long"),
      (acc, v) => pmod(acc * 1000003L + v, lit(P)))

  /** Deterministic ±1 hyperplane sign for (table, plane, dim). Max argument
    * ≈ 70k · 2654435761 < 2⁴⁸: exact everywhere. Evaluated driver-side
    * (plain Scala) when building plane literals; the DuckDB twin is the
    * same arithmetic inline. */
  def planeSign(table: Int, plane: Int, dim: Int): Double = {
    val x = (table.toLong * 8191L + plane.toLong * 131L + dim.toLong * 7L + 1L) *
      2654435761L
    if (x % P % 2 == 0) 1.0 else -1.0
  }
}
