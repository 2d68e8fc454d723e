package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.plans.{KmvSketch, LaneHashes, MinHashBands, PairSampleMatch, SortedIntersectSize}

/** Text primitives for the LLM-data-pipeline operators: built-in
  * (codegen'd) functions and graft's native sketch kernels — no UDFs
  * in the hot path.
  */
object TextFunctions {

  /** Whitespace tokenization (single-space corpus-safe). */
  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Canonical form for fingerprinting: lowercase, strip non [a-z0-9 ],
    * collapse whitespace, trim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Document fingerprint = md5 of the canonical form. */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** Top 60 bits of md5 as a non-negative BIGINT. Engine-portable: any
    * SQL engine with md5 reproduces it bit-identically (DuckDB:
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`), which makes sketches
    * built on it (simhash, minhash) oracle-checkable — unlike xxhash64,
    * which only Spark implements. 15 hex chars = 60 bits < 2^63, so the
    * value is always non-negative and exact in a signed long.
    */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** let-binding for Column expressions: evaluate `value` ONCE per row
    * and reference the result as a lambda variable inside `body`.
    * Catalyst has no let form, and referencing a sub-expression (e.g. a
    * `split`) inside a higher-order-function lambda re-evaluates it per
    * ELEMENT — O(len²) for token arrays. `transform` over a one-element
    * array passes the EVALUATED element to the lambda, giving exactly
    * let semantics: bindArray(tokens(text))(t => ...slice(t, i, w)...).
    */
  def bindArray(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)

  /** Word n-gram shingles as strings ("w1 w2 ... wn"), built by
    * zipping n shifted slices of the token array. Every reference to
    * the tokenization sits OUTSIDE the lambdas, so `split` evaluates n
    * times per row — a lambda-body `slice(tokens(text), i, n)` would
    * re-tokenize per POSITION, turning shingling O(len²) per row
    * (measured 4x wall on the 4-gram decontamination pass). zip_with
    * pads the shorter (shifted) side with null and `concat` of null is
    * null, so trailing partial windows drop in the final filter.
    */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, "shingle width must be >= 1")
    val t = tokens(text)
    if (n == 1) t
    else {
      val shifted = (1 to n).map {
        case 1 => t
        case k => slice(t, lit(k), greatest(size(t) - (k - 1), lit(0)))
      }
      filter(
        shifted.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y))),
        x => x.isNotNull)
    }
  }

  /** Count of tokens that appear in a fixed marker set. */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(m => m: Any): _*)))

  /** The `bands` portable-MinHash LSH band hashes of a shingle array,
    * `bands * rowsPerBand` md5 lanes in one pass
    * (graft.plans.MinHashBands); null for an empty array.
    */
  def minhashBands(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    column(MinHashBands(expression(shingles), bands, rowsPerBand))

  /** The `lanes` md5 lane hashes of one shingle as order-preserving
    * longs (graft.plans.LaneHashes).
    */
  def laneHashes(shingle: Column, lanes: Int): Column =
    column(LaneHashes(expression(shingle), lanes))

  /** |a ∩ b| of two ascending distinct int or bigint arrays, by merge
    * walk (graft.plans.SortedIntersectSize).
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))

  /** True when the second md5 byte of "<a>:<b>" is 0: the keyed 1/256
    * pair sample (graft.plans.PairSampleMatch).
    */
  def pairSampleMatch(a: Column, b: Column): Column =
    column(PairSampleMatch(expression(a), expression(b)))

  /** The `k` smallest distinct hashes of the group, ascending: the KMV
    * distinct-count sketch (graft.plans.KmvSketch).
    */
  def kmvSketch(hash: Column, k: Int): Column =
    column(KmvSketch.coerced(expression(hash), k).toAggregateExpression())
}
