package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection primitives for training-data dedup at scale:
  * word-shingle MinHash + LSH banding, 64-bit SimHash signatures, and
  * character-n-gram Jaccard/containment.
  *
  * Hash choice: every hash is md5 over an explicit string — md5 is
  * bit-identical across engines (unlike murmur variants), so the DuckDB
  * oracle reproduces signatures exactly. MinHash minima are taken over the
  * hex strings lexicographically, which is a uniform order on the hash
  * space and needs no hex→int conversion anywhere.
  *
  * Scale shape (the point of LSH): signatures are computed per-row in the
  * scan (no shuffle), candidates come from ONE shuffle on (band, value),
  * and the exact-similarity join touches only candidate pairs — never the
  * O(n²) cross product. This is the same plan at 500 docs or 10 billion.
  */
object NearDup {

  /** Hot-band overflow cap for MinHash LSH: a (band, key) group larger
    * than this is dropped from candidate generation instead of joined.
    * A boilerplate-heavy corpus (the same header/footer on millions of
    * docs) collapses those docs onto ONE band key, and the candidate
    * self-join goes quadratic in the group size — one hot group of g
    * docs is g·(g-1)/2 pairs, unbounded by any of the banding math.
    * Groups at the cap are near-certain exact duplicates of each other
    * (all r hashes agree in EVERY band they collide in), which is the
    * exact-dedup fingerprint gate's job, not near-dup's — dropping them
    * loses nothing the pipeline doesn't already catch, and keeps
    * per-band candidates ≤ n_groups·cap·(cap-1)/2. Size to the largest
    * legitimate near-dup cluster you expect (32 ≫ the gate corpus's max
    * group of 3).
    */
  val LshBandCap = 32

  /** Distinct n-word shingles of a token array — the native
    * [[graft.functions.WordShingles]] expression (registered
    * session-wide by [[graft.Tables]]); value-identical to
    * [[wordShinglesHof]], one hash-set pass per row instead of an
    * interpreted transform/slice/join/distinct chain per shingle.
    * The coalesce mirrors the HOF's null contract (null tokens array →
    * EMPTY shingle set, not null — the expression itself is null-safe
    * like any UnaryExpression).
    */
  def wordShingles(toks: Column, n: Int): Column =
    coalesce(call_function("word_shingles", toks, lit(n)),
      array().cast("array<string>"))

  /** HOF formulation of the same shingling (empty when too short —
    * Spark's `sequence(0, negative)` would otherwise count DOWN); kept
    * as the executable spec the native expression is tested against.
    */
  def wordShinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  /** k MinHash values over a shingle set: hash_i(s) = md5(i || '|' || s),
    * minimum per i taken lexicographically on the hex string.
    */
  def minhashes(shingleSet: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleSet,
        t => md5(concat(i.cast("string"), lit("|"), t).cast("binary")))))

  /** DuckDB mirror of [[wordShingles]] (distinct word n-grams of a token
    * list) — ONE definition interpolated by every oracle that shingles,
    * so the shingle window can never drift between gates.
    */
  def sqlShingles(toks: String, n: Int = 3): String =
    s"list_distinct(list_transform(range(1, len($toks) - ${n - 2}), " +
      s"i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' ')))"

  /** DuckDB mirror of [[minhashes]] — the md5(i || '|' || shingle)
    * minimum per hash index.
    */
  def sqlMinhash(sh: String, k: Int): String =
    s"list_transform(range(0, $k), i -> list_min(list_transform($sh, " +
      "x -> md5(CAST(i AS VARCHAR) || '|' || x))))"

  /** POSITIONAL k-gram md5 keys — window i (0-based) of the token array,
    * NOT distinct: the exact-substring dedup primitive. Unlike
    * [[wordShingles]] (a set, for Jaccard), position survives here so
    * duplicated windows can be merged back into maximal covered spans.
    * One definition, two dialects (the SQL side carries the position in a
    * named struct, the Spark side recovers it with posexplode).
    */
  def posGramKeys(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => md5(array_join(slice(toks, i + 1, lit(k)), " ").cast("binary"))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB mirror of [[posGramKeys]] + position: a list of
    * `{'p': start, 'g': md5(window)}` structs to unnest.
    */
  def sqlPosGramStructs(toks: String, k: Int): String =
    s"list_transform(range(1, len($toks) - ${k - 2}), " +
      s"i -> {'p': i - 1, 'g': md5(array_to_string(" +
      s"list_slice($toks, i, i + ${k - 1}), ' '))})"

  /** Distinct character n-grams of normalized text. */
  def charNgrams(c: Column, n: Int): Column = {
    val norm = TextAnalysis.normText(c)
    when(length(norm) >= n,
      array_distinct(transform(sequence(lit(1), length(norm) - (n - 1)),
        i => norm.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact Jaccard similarity of two DISTINCT string arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Containment |A∩B| / |A| — the asymmetric near-dup measure. */
  def containment(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(a).cast("double")

  /** DuckDB-side banded LSH keys: concatenate `r` consecutive minhashes
    * per band (AND-amplification). With r=1 the per-band collision
    * probability is the Jaccard itself — on corpora where random pairs
    * share tokens that floods the candidate join quadratically; r=2
    * squares it (J=0.9 → 0.81/band, J=0.05 → 0.0025) and keeps recall
    * via multiple bands. The Spark side builds the same keys with
    * [[bandRows]].
    */
  def sqlBandedKeys(mh: String, bands: Int, r: Int): String = {
    val parts = (0 until r).map(j => s"$mh[bi * $r + ${j + 1}]")
      .mkString(" || '|' || ")
    s"list_transform(range(0, $bands), bi -> $parts)"
  }

  /** Banded LSH key rows from an exploded (id, hashIdx, hash) signature:
    * group `r` consecutive hashes into one band key. Building keys AFTER
    * a posexplode guarantees the (expensive) minhash transform evaluates
    * once per document — `element_at` over the signature array inside a
    * lambda would let projection collapsing re-inline and re-evaluate it
    * per band (measured 3× on the bench).
    */
  def bandRows(sigRows: DataFrame, idCol: String, r: Int): DataFrame =
    sigRows.toDF(idCol, "i", "h")
      .groupBy(col(idCol), floor(col("i") / r).cast("int").as("band"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("i"), col("h")))),
          s => s.getField("h")), "|").as("mh"))

  /** LSH candidate pairs from (id, band, mh) key rows: docs sharing any
    * key are candidates. One shuffle on the band key; the output is the
    * candidate edge list (doc_a < doc_b).
    *
    * Hot-band guard: (band, mh) groups larger than `cap` are dropped
    * BEFORE the self-join — one hot group (boilerplate text collapsing
    * onto a single key) is otherwise g·(g-1)/2 pairs, the one quadratic
    * escape hatch in the banding plan (see [[LshBandCap]]
    * for why dropping loses nothing near-dup cares about). The group
    * count is a window over the SAME (band, mh) key the join shuffles
    * on, so the guard rides the join's exchange instead of adding one.
    */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame =
    lshCandidates(bands, idCol, LshBandCap)

  def lshCandidates(bands: DataFrame, idCol: String, cap: Int): DataFrame = {
    val sized = bands
      .withColumn("gsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("mh"))))
      .where(col("gsz") <= cap).drop("gsz")
    sized.alias("a").join(sized.alias("b"), Seq("band", "mh"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** The capped candidate CTE for oracle SQL — the exact mirror of
    * [[lshCandidates]], parameterized on the id column so the pair and
    * cluster chains share one definition. Expects a `bands(id, band,
    * mh)` CTE in scope; one `gsz` predicate suffices because both join
    * sides land in the same (band, mh) group.
    */
  def sqlCappedCand(idCol: String,
      cap: Int = LshBandCap): String =
    s"""sized AS (
       |  SELECT $idCol, band, mh,
       |    COUNT(*) OVER (PARTITION BY band, mh) AS gsz FROM bands),
       |cand AS (
       |  SELECT DISTINCT a.$idCol AS doc_a, b.$idCol AS doc_b
       |  FROM sized a JOIN sized b ON a.band = b.band AND a.mh = b.mh
       |  WHERE a.gsz <= $cap AND a.$idCol < b.$idCol)""".stripMargin

  // ----------------------------------------------------------- simhash

  /** Hex-digit → 4 bits (MSB first) lookup table, and the hex alphabet.
    * Bit extraction is pure string arithmetic so both engines agree
    * without any hex→integer conversion.
    */
  private val bitLookup: String =
    (0 until 16).map(d => Integer.toBinaryString(d | 16).substring(1)).mkString
  private val hexAlphabet = "0123456789abcdef"

  /** Engine dialect for the generated SimHash expression. */
  final case class Dialect(
      split: (String, String) => String,
      distinct: String => String,
      transform: (String, String, String) => String,
      range: (Int, Int) => String, // inclusive start, exclusive end
      join: (String, String) => String,
      sumInts: String => String,
      md5: String => String)

  val sparkDialect: Dialect = Dialect(
    split = (e, sep) => s"split($e, '$sep')",
    distinct = e => s"array_distinct($e)",
    transform = (e, v, body) => s"transform($e, $v -> $body)",
    range = (a, b) => s"sequence($a, ${b - 1})",
    join = (e, sep) => s"array_join($e, '$sep')",
    sumInts = e => s"aggregate($e, 0, (acc, x) -> acc + x)",
    md5 = e => s"md5(cast($e as binary))")

  val duckDialect: Dialect = Dialect(
    split = (e, sep) => s"string_split($e, '$sep')",
    distinct = e => s"list_distinct($e)",
    transform = (e, v, body) => s"list_transform($e, $v -> $body)",
    range = (a, b) => s"range($a, $b)",
    join = (e, sep) => s"array_to_string($e, '$sep')",
    sumInts = e => s"CAST(list_sum($e) AS INT)",
    md5 = e => s"md5($e)")

  /** Stage 1 of SimHash: md5 each distinct token once. Materialized as
    * its own projected column so the 64 bit-votes of stage 2 reuse the
    * hashes instead of re-hashing tokens 64×.
    */
  def tokenHashesExpr(d: Dialect, textExpr: String): String =
    d.transform(d.distinct(d.split(textExpr, " ")), "t", d.md5("t"))

  /** Stage 2: 64-bit SimHash over a token-hash array column, as a 64-char
    * '0'/'1' string. Bit b of the signature is the majority vote across
    * token hashes of bit b, where bit b of a hash = bit (b mod 4) of hex
    * digit b/4 — extracted via the string lookup table, so no hex→integer
    * conversion and both engines agree exactly.
    */
  def simhashExpr(d: Dialect, hashesCol: String, nCol: String): String = {
    val digitVal =
      s"(instr('$hexAlphabet', substr(h, CAST(floor(b / 4) AS INT) + 1, 1)) - 1)"
    val bit = s"CAST(substr('$bitLookup', $digitVal * 4 + (b % 4) + 1, 1) AS INT)"
    val votes = d.sumInts(d.transform(hashesCol, "h", bit))
    val bitChar = s"(CASE WHEN 2 * $votes >= $nCol THEN '1' ELSE '0' END)"
    d.join(d.transform(d.range(0, 64), "b", bitChar), "")
  }
}
