package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks shared by the operators. All are composed
  * from `org.apache.spark.sql.functions` so they stay inside whole-stage
  * codegen — no Scala UDFs in hot paths (SURVEY.md §4).
  */
package object functions {

  // ---------------------------------------------------------------- vectors

  /** Elementwise product-sum of two numeric array columns, computed in
    * double via the native codegen'd DotProduct expression (a strict
    * in-order loop, so results are bit-deterministic for a given element
    * order — matters for oracle parity — and ~5× faster than the
    * interpreted `aggregate(zip_with(...))` HOF formulation).
    */
  def dotProduct(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(DotProduct(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a.cast("array<double>")),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b.cast("array<double>"))))

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** A driver-side double as a plan constant that generated code does not
    * inline ([[DriverScalar]]): a round loop that passes a new value each
    * round reuses the previous round's compiled classes.
    */
  def driverScalar(value: Double): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(DriverScalar(value))

  /** A broadcast catalyst value of type `dataType` as a plan constant
    * ([[DriverConstant]]): tasks carry the broadcast's reference, and a
    * new value of the same type reuses the compiled classes.
    */
  def driverConstant(value: org.apache.spark.broadcast.Broadcast[Any],
                     dataType: org.apache.spark.sql.types.DataType): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(DriverConstant(value, dataType))

  /** Jaro–Winkler similarity of two string columns (codegen'd; DuckDB
    * `jaro_winkler_similarity` semantics — see JaroWinklerImpl).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(JaroWinklerSimilarity(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** IDN → ASCII (punycode) host encoding (codegen'd; ASCII hosts pass
    * through untouched — see PunycodeImpl for the exact scope).
    */
  def punycodeHost(h: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(PunycodeHost(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(h)))

  /** Constant-matrix × vector product via the native codegen'd MatVec
    * expression (see MatVecProduct scaladoc — the `array(dot, dot, …)`
    * composition at 64×64 exceeds the codegen budget and interprets).
    */
  def matVec(v: Column, matrix: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(MatVecProduct(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(
        v.cast("array<double>")),
      matrix.map(_.toArray).toArray))

  /** Cosine similarity of two embedding columns (any numeric element type;
    * computed in double).
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Native MinHash signature (see MinHashSignature scaladoc). */
  def minhashSignature(shingleHashes: Column, as: Array[Long], bs: Array[Long]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(MinHashSignature(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(shingleHashes), as, bs))

  /** Native SimHash bit-vote over pre-hashed tokens (see SimHashBits). */
  def simhashBits(tokenHashes: Column, numBits: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(SimHashBits(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(tokenHashes), numBits))

  /** Space-Saving heavy-hitters aggregate (see SpaceSavingTopK scaladoc):
    * top-k frequent items with bounded state per aggregation state.
    */
  def spaceSavingTopK(item: Column, capacity: Int, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(SpaceSavingTopK(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(item),
      capacity, k).toAggregateExpression())

  // ------------------------------------------------------------------ text

  /** Whitespace tokenization after trim; empty/blank text → empty array
    * (Spark's split on "" yields [""], which we filter). The split class
    * is explicit, not \s: Java's \s includes vertical tab (\x0B), RE2's
    * (the DuckDB oracles') does not — the one construct they disagree on.
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "[ \\t\\n\\f\\r]+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct word k-shingles ("w1 w2 ... wk" strings) of a text column.
    *
    * The token array is let-bound as a lambda variable (1-element transform
    * wrapper): a captured child expression inside an HOF lambda is
    * re-evaluated on every lambda call, which would re-tokenize once per
    * shingle. Shingles are built positionally over sequence(1, n-k+1) —
    * no per-shingle re-split to filter ragged tails.
    */
  def wordShingles(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), tsv =>
        when(size(tsv) < k, array().cast("array<string>"))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(tsv) - lit(k - 1)),
              i => array_join(slice(tsv, i, lit(k)), " "))))),
      1)

  /** Distinct 64-bit hashes of word k-shingles, computed by hashing token
    * sub-slices directly — no "w1 w2 w3" string materialization (xxhash64
    * hashes array contents). Equivalent set identity to
    * `wordShingles(...).map(xxhash64)` up to hash collisions; prefer this
    * in dedup hot paths, `wordShingles` when the strings themselves are
    * needed.
    */
  def shingleHashes(text: Column, k: Int): Column =
    element_at(
      transform(array(tokens(text)), tsv =>
        when(size(tsv) < k, array().cast("array<bigint>"))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(tsv) - lit(k - 1)),
              i => xxhash64(slice(tsv, i, lit(k))))))),
      1)

  // -------------------------------------------------------- portable hashes

  /** 31-bit hash computable bit-identically by Spark AND DuckDB: parse the
    * first 8 hex chars of md5 (both engines emit the same lowercase hex over
    * UTF-8 bytes), reduce mod 2^31−1. Spark: `conv(substr(md5,1,8),16,10)`;
    * DuckDB: `('0x'||substring(md5(s),1,8))::BIGINT % 2147483647`. Used by
    * the oracle-parity twins of the minhash/feature queries — the production
    * dedup path keeps the faster codegen'd xxhash64.
    */
  def md5Hash31(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long") % lit(2147483647L)

  /** 60-bit variant (15 hex chars < 2^60 — never overflows a signed long in
    * either engine). DuckDB: `('0x'||substring(md5(s),1,15))::BIGINT`.
    */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Driver/test-side twin of [[md5Hash31]] — same md5-hex-prefix math on
    * the JVM, for asserting hash-gated behavior without a Spark job.
    */
  def md5Hash31Local(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % 2147483647L
  }

  /** |A ∩ B| of two SORTED array<bigint> columns (see SortedIntersectCount). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(SortedIntersectCount(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** Jaccard similarity of two array columns treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val union = size(array_union(da, db)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }
}
