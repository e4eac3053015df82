package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity primitives over `array<float>` embedding columns —
  * built entirely from higher-order functions (zip_with / transform /
  * aggregate), all codegen-friendly, no UDFs.
  *
  * Determinism: float×float products are computed in double (exact — 24-bit
  * mantissas multiply into 48 < 53 bits), then each product is rounded once
  * to DECIMAL(30,15) and summed exactly. The sum is therefore associative —
  * independent of partitioning AND of engine summation order — which is
  * what lets a DuckDB oracle hash-match Spark on floating-point kernels.
  * One final cast back to double restores the ergonomic type.
  */
object VectorOps {

  private val Dec = "decimal(30,15)"

  /** Exact (order-independent) dot product of two float arrays, as
    * double — the native [[graft.functions.DotExactDec]] expression
    * (registered session-wide by [[graft.Tables]]); value-identical to
    * [[dotExactHof]], ~an order of magnitude cheaper per pair.
    */
  def dotExact(a: Column, b: Column): Column =
    call_function("dot_exact_dec", a, b)

  /** The HOF formulation of the same kernel — kept as the executable
    * specification the native expression is tested against.
    */
  def dotExactHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Dec)),
      lit(0).cast(Dec),
      (acc, v) => (acc + v).cast(Dec))
      .cast("double")

  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** Cosine similarity with the fixed association dot / (|a| * |b|). */
  def cosine(a: Column, b: Column): Column =
    dotExact(a, b) / (normExact(a) * normExact(b))

  /** Fast all-double dot for PRE-FILTERING only — the native
    * [[graft.functions.DotDouble]] expression: a strict left-to-right
    * IEEE fold, value-identical to [[dotFastHof]] (the executable spec
    * in NativeExprProps). Deterministic within Spark, NOT engine-
    * portable: any cross-engine threshold built on it needs a margin
    * covering <1e-12 drift, with [[dotExact]] making the real decision.
    */
  def dotFast(a: Column, b: Column): Column = call_function("dot_double", a, b)

  /** HOF formulation of [[dotFast]] — kept as the executable spec. */
  def dotFastHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Fast all-double cosine for PRE-FILTERING only: plain sequential fold,
    * ~20× cheaper than the decimal path but not engine-portable. Within
    * Spark it is still deterministic (array fold order is fixed), and it
    * differs from [[cosine]] by well under 1e-12 — so `fast >= t - margin`
    * admits every pair the exact filter would keep.
    */
  def cosineFast(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** DuckDB double-dot for SCREENING ONLY — the [[dotFast]] counterpart.
    * Not bit-identical to Spark's strict fold (summation strategy is the
    * engine's own), but any summation of 64 O(1) doubles agrees within
    * ~1e-12, so a screen that keeps `score >= threshold - 1e-6` admits
    * the same final survivors in both engines (the maxsim margin
    * argument). Never let this decide an output value.
    */
  def sqlDotFast(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      s"z -> CAST(struct_extract(z, 1) AS DOUBLE) * CAST(struct_extract(z, 2) AS DOUBLE)))"

  /** DuckDB mirror of [[dotExact]] (list_sum over DECIMAL is exact). */
  def sqlDotExact(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"z -> CAST(CAST(struct_extract(z, 1) AS DOUBLE) * CAST(struct_extract(z, 2) AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE)"

  def sqlNormExact(a: String): String = s"sqrt(${sqlDotExact(a, a)})"

  def sqlCosine(a: String, b: String): String =
    s"(${sqlDotExact(a, b)} / (${sqlNormExact(a)} * ${sqlNormExact(b)}))"

  // ------------------------------------------------ sign-random-hyperplane LSH

  /** Deterministic pseudo-random hyperplane weight for (plane j, 1-based
    * dim d): the md5 KeyHash recipe scaled into [-1, 1] — bit-identical
    * everywhere, no RNG state to ship, and (unlike an affine mod-p ramp)
    * no shift-structure correlating the planes (see the SignBits
    * scaladoc for the measured band collapse the ramp caused).
    */
  private def weight(j: Column, d: Column): Column =
    (graft.functions.KeyHash.bucket("signw", j * 1000 + d, 97) - 48)
      .cast("double") / lit(48.0)

  /** Sign-LSH bucket key: one bit per hyperplane ('1' iff the exact
    * decimal projection is >= 0), concatenated into an `h`-char string.
    * Cosine-similar vectors agree on most signs, so near neighbors land
    * in the same bucket with high probability — the shuffle key for ANN.
    */
  def signBucket(v: Column, h: Int): Column =
    array_join(
      transform(sequence(lit(0), lit(h - 1)), j => {
        val proj = aggregate(
          transform(v, (x, d0) =>
            (weight(j, d0 + 1) * x.cast("double")).cast(Dec)),
          lit(0).cast(Dec),
          (acc, p) => (acc + p).cast(Dec))
        when(proj >= 0, lit("1")).otherwise(lit("0"))
      }), "")

  /** One-row weight-matrix CTE feeding [[sqlSignBits]]: `wm` is a list
    * of `h` 64-weight BIGINT lists, md5-derived exactly as
    * [[graft.functions.SignBits.weight]]. Hoisted because DuckDB
    * neither folds literals nor allows subqueries inside lambdas — the
    * inline alternatives cost either h·64 md5 digests per ROW or a
    * rebuilt 6k-element literal per element evaluation (measured 22 s
    * for 4 000 rows). CROSS JOIN this CTE into any SELECT that calls
    * the mirror (one row — a free broadcast in any engine).
    */
  def sqlSignWeightsCte(h: Int): String =
    s"""swt AS (
       |  SELECT list(wrow ORDER BY j) AS wm FROM (
       |    SELECT j, list(w ORDER BY d) AS wrow FROM (
       |      SELECT j, d, (CAST(('0x' || substr(md5('signw' ||
       |          CAST(j * 1000 + d AS VARCHAR)), 1, 4)) AS INTEGER) % 97) - 48 AS w
       |      FROM range(0, $h) t(j) CROSS JOIN range(1, 65) u(d))
       |    GROUP BY j))""".stripMargin

  /** DuckDB mirror of the native [[graft.functions.SignBits]] expression
    * (64-dim, 1-based dims): pure BIGINT arithmetic — fixed-point inputs
    * `floor(x * 2^20)` times the integer hyperplane weights — so any
    * summation order in any engine produces the identical signature.
    * Requires [[sqlSignWeightsCte]]'s `wm` column in scope.
    */
  def sqlSignBits(v: String, h: Int): String = {
    val proj = s"list_sum(list_transform(range(1, 65), " +
      s"d -> wm[j+1][d] * CAST(floor(CAST($v[d] AS DOUBLE) * 1048576) AS BIGINT)))"
    s"array_to_string(list_transform(range(0, $h), " +
      s"j -> CASE WHEN $proj >= 0 THEN '1' ELSE '0' END), '')"
  }
}
