package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization and shingling column builders shared by the dedup and
  * text-analysis operators. Everything here is built-in `functions._`
  * (codegen'd, no UDFs) so it survives whole-stage codegen at 100 TB.
  */
object Text {

  /** Lowercased whitespace tokens; empty strings filtered (leading/
    * trailing whitespace produces them).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Distinct token set (unigram shingles), SORTED — sortedness costs one
    * array_sort per document and buys the merge-loop intersection kernel
    * on every candidate pair (see functions.SortedIntersectCount).
    */
  def tokenSet(text: Column): Column = array_sort(array_distinct(tokens(text)))

  /** Word n-gram shingles: overlapping windows of n tokens re-joined with
    * a single space. Documents with fewer than n tokens yield the whole
    * token sequence as one shingle (so short docs still fingerprint).
    * n=1 short-circuits to the token array — the general form's
    * per-token slice+join lambdas are interpreted (higher-order
    * functions don't codegen) and this is the default path.
    *
    * The token array is bound ONCE as a lambda variable (the
    * single-element-array transform trick): a naive `val ts =
    * tokens(text)` captured inside the window lambda is re-evaluated at
    * EVERY window position by the interpreted evaluator (no CSE outside
    * codegen) — O(tokens²) re-tokenization per document, measured 6.1 s
    * of an 8-gram query at sf0.1 vs ~1 s bound.
    */
  def shingles(text: Column, n: Int): Column = {
    if (n == 1) tokens(text)
    else get(transform(array(tokens(text)), ts =>
      when(size(ts) >= n,
        transform(sequence(lit(0), size(ts) - n),
          i => array_join(slice(ts, i + 1, lit(n)), " ")))
        .otherwise(array(array_join(ts, " ")))), lit(0))
  }

  /** Distinct shingle set, sorted (see [[tokenSet]]). */
  def shingleSet(text: Column, n: Int): Column =
    array_sort(array_distinct(shingles(text, n)))

  /** 64-bit hashes of a string array's elements. */
  def hashed(arr: Column): Column = transform(arr, s => xxhash64(s))

  /** Exact Jaccard similarity of two pre-distinct string arrays
    * (built-in array_intersect — allocates a hash set per pair; use
    * [[jaccardSorted]] on hot paths).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Exact Jaccard over SORTED distinct arrays (string or bigint
    * elements) via the allocation-free merge kernel. Same value as
    * [[jaccard]], ~10-30x cheaper per pair.
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = call_function("graft_sorted_intersect_count", a, b).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Shingle set as sorted xxhash64 values: the cheap verification
    * representation — 8-byte keys instead of strings, half the join
    * payload. Set size (and therefore Jaccard) is preserved exactly
    * unless xxhash64 collides within a document's shingles, which the
    * deterministic oracle run would catch (it never has on the
    * fixtures).
    */
  def hashedShingleSet(text: Column, n: Int): Column =
    array_sort(array_distinct(transform(shingles(text, n), s => xxhash64(s))))
}
