package graft.text

import org.apache.spark.sql.functions._

import graft.{Queries, Tables}
import NearDup._

/** Oracle-checked near-duplicate detection queries over `documents`:
  * MinHash+LSH (shingle → minhash → band → bucket-join → exact verify),
  * SimHash signatures, and character-n-gram Jaccard/containment.
  *
  * Each builds a corpus of originals ∪ deterministic mutations so the
  * near-dup structure is known, then recovers it. The LSH query follows
  * the canonical at-scale plan: per-row signatures in the scan, one
  * shuffle on (band, value) for candidates, exact similarity only on
  * candidate pairs — never an O(n²) cross join.
  */
object DedupQueries {
  import Queries.Q

  private val K = graft.Tuning.minhashK         // minhash permutations
  private val Bands = graft.Tuning.minhashBands // LSH bands (AND-amplified)
  private val R = graft.Tuning.minhashR         // hashes per band

  /** MinHash + LSH near-dup pairs: originals vs copies with the last 5
    * words dropped; recovered pairs verified by exact shingle Jaccard.
    */
  /** The near-dup gate corpus, shingled and persisted: docs with >= 15
    * tokens plus a truncated copy of each (original + copy from ONE
    * scan — explode, not self-union — half the I/O, and avoids HOF
    * lambda-binding clashes on reused plans). Shared by [[minhashLsh]]
    * and the shape-explicit BandingProps helpers.
    */
  /** Loud guard for the +10000/+20000 planted-variant id scheme shared
    * by EVERY corpus that derives variant ids from `doc_id` (the
    * shingled near-dup corpus, the cluster corpus, keepBest's
    * `doc_id % 10000` join, and the sql_dedup_minhash twin): a
    * regenerated corpus with ≥10000 documents would silently collide
    * real docs with planted copies in BOTH engines — the hash gate
    * would stay green on wrong semantics — so drift fails loudly here
    * instead (r11 ADVICE, widened r12 after review). One-value driver
    * check, memoized per (JVM, sf dir).
    */
  private[graft] def assertVariantIdHeadroom(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import s.implicits._
    graft.Artifacts.memo(s"dedup.variantIdHeadroom|$dir") {
      val maxId = Tables(s, dir, "documents")
        .agg(max($"doc_id")).head.getLong(0)
      require(maxId < 10000L,
        s"planted-variant id scheme assumes doc_id < 10000; max is $maxId " +
          "— the corpus drifted, widen the variant offset")
    }
  }

  // r16: the [[graft.Artifacts.Shingled]] entry — five gates each re-ran
  // the tokenize+shingle pass per invocation; the shingle table is the
  // signature-index input a production dedup pipeline persists (the
  // clusterCorpusEdges discipline, one shelf over)
  private[graft] def shingledCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    // read up to three times per gate (signature build + both sides of
    // the exact-Jaccard verify): persist the parquet read
    graft.CacheTracker.persistTracked(
      s.read.schema("doc_id BIGINT, sh ARRAY<STRING>")
        .parquet(graft.Artifacts.Shingled.path(s, dir)))

  private[graft] def buildShingledCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String, out: String): Unit = {
    import s.implicits._
    assertVariantIdHeadroom(s, dir)
    // repartition BEFORE the per-row work: the one-file documents scan
    // is a single partition, and tokenize+shingle+minhash would
    // otherwise run one-core (the r12 single-partition lesson, r14)
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15)
    val corpus = base.select(explode(array(
        struct($"doc_id", $"toks"),
        struct(($"doc_id" + 10000).as("doc_id"),
          slice($"toks", lit(1), size($"toks") - 5).as("toks")))).as("r"))
      .select($"r.doc_id", $"r.toks")
    corpus.select($"doc_id", wordShingles($"toks", 3).as("sh"))
      .write.parquet(out)
  }

  /** Banded LSH candidate pairs at an EXPLICIT (k, r) shape — the
    * "same plan, different constants" claim made checkable: BandingProps
    * compares this against an in-memory banding model over the same
    * signatures for random shapes.
    */
  private[graft] def minhashCandidatesWith(k: Int, r: Int): Q = (s, dir) => {
    import s.implicits._
    val shingled = shingledCorpus(s, dir)
    val bands = graft.CacheTracker.persistTracked(bandRows(
      shingled.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $k)"))),
      "doc_id", r))
    lshCandidates(bands, "doc_id")
  }

  /** The corpus signature table at an explicit k (for the model side). */
  private[graft] def minhashSignaturesWith(k: Int): Q = (s, dir) => {
    import s.implicits._
    shingledCorpus(s, dir)
      .select($"doc_id", expr(s"minhash_md5(sh, $k)").as("mh"))
  }

  val minhashLsh: Q = (s, dir) => {
    import s.implicits._
    val shingled = shingledCorpus(s, dir)
    // posexplode forces ONE evaluation of the signature per doc; band
    // keys are then rebuilt from the cheap exploded rows. The band table
    // is persisted because the candidate self-join reads it twice —
    // without it each side of the join re-hashes the whole corpus. The
    // cache is O(docs × bands) short strings, tracked by CacheTracker
    // and released by the harness after this query's action completes.
    // native minhash expression (one JVM loop/row) — value-identical to
    // NearDup.minhashes, an order of magnitude cheaper than the
    // interpreted k×|shingles| HOF lambdas it replaces
    val bands = graft.CacheTracker.persistTracked(bandRows(
      shingled.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $K)"))),
      "doc_id", R))
    lshCandidates(bands, "doc_id")
      .join(shingled.toDF("doc_a", "sh_a"), "doc_a")
      .join(shingled.toDF("doc_b", "sh_b"), "doc_b")
      .select($"doc_a", $"doc_b", jaccard($"sh_a", $"sh_b").as("jaccard"))
      .filter($"jaccard" >= 0.4)
      .orderBy($"doc_a", $"doc_b")
  }

  val minhashLshSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL
       |  SELECT doc_id + 10000, list_slice(toks, 1, len(toks) - 5) FROM base),
       |shingled AS (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh
       |  FROM corpus),
       |sig0 AS (
       |  SELECT doc_id, ${sqlMinhash("sh", K)} AS mh0
       |  FROM shingled),
       |sig AS (
       |  SELECT doc_id, ${sqlBandedKeys("mh0", Bands, R)} AS mh FROM sig0),
       |bands AS (
       |  SELECT doc_id, struct_extract(u, 'band') AS band, struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM sig)),
       |${sqlCappedCand("doc_id")}
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_cat(sa.sh, sb.sh))) AS DOUBLE) AS jaccard
       |FROM cand JOIN shingled sa ON cand.doc_a = sa.doc_id
       |          JOIN shingled sb ON cand.doc_b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_cat(sa.sh, sb.sh))) AS DOUBLE) >= 0.4
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-document 64-bit SimHash signatures + 16-bit band keys (the
    * bucketing keys a banded hamming-dedup would shuffle on).
    */
  val simhashSig: Q = (s, dir) => {
    import s.implicits._
    Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.normText($"text").as("norm"))
      .select($"doc_id", expr(tokenHashesExpr(sparkDialect, "norm")).as("hs"))
      .select($"doc_id", expr(simhashExpr(sparkDialect, "hs", "size(hs)")).as("simhash"))
      .select(($"doc_id" +: $"simhash" +:
        (0 until 4).map(i => substring($"simhash", 1 + 16 * i, 16).as(s"band_$i"))): _*)
      .orderBy($"doc_id")
  }

  val simhashSigSql: String = {
    val bandCols = (0 until 4)
      .map(i => s"substr(simhash, ${1 + 16 * i}, 16) AS band_$i").mkString(",\n  ")
    s"""WITH norm AS (
       |  SELECT doc_id, ${TextAnalysis.sqlNormText("text")} AS norm FROM documents),
       |h AS (SELECT doc_id, ${tokenHashesExpr(duckDialect, "norm")} AS hs FROM norm),
       |sig AS (SELECT doc_id, ${simhashExpr(duckDialect, "hs", "len(hs)")} AS simhash FROM h)
       |SELECT doc_id, simhash,
       |  $bandCols
       |FROM sig ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-dup PAIR recovery (NOT registered as a gated query):
    * on this synthetic corpus the shared ~30-word vocabulary makes
    * unrelated documents' majority-vote signatures nearly collide — at
    * sf0.1 the 16-bit band buckets go quadratic (measured 3.8M pairs /
    * 350 s), which is SimHash's documented failure mode on low-diversity
    * corpora, not an implementation bug. MinHash+LSH (r=2 banding,
    * `dedup_minhash_lsh`) is the banded pair join that stays selective
    * here; SimHash signatures/bands (`dedup_simhash_sig`) remain gated.
    * Kept as API + unit-tested building blocks for corpora with real
    * signature spread.
    */
  val simhashPairs: Q = (s, dir) => {
    import s.implicits._
    val corpus = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select(explode(array(
        struct($"doc_id", array_join($"toks", " ").as("norm")),
        struct(($"doc_id" + 10000).as("doc_id"),
          concat(array_join(slice($"toks", lit(1), size($"toks") - 1), " "),
            lit(" zzz")).as("norm")))).as("r"))
      .select($"r.doc_id", $"r.norm")
    val sigs = graft.CacheTracker.persistTracked(corpus
      .select($"doc_id", expr(tokenHashesExpr(sparkDialect, "norm")).as("hs"))
      .select($"doc_id", expr(simhashExpr(sparkDialect, "hs", "size(hs)")).as("simhash")))
    val bands = sigs.select($"doc_id", $"simhash",
        posexplode(transform(sequence(lit(0), lit(3)),
          b => $"simhash".substr(b * 16 + 1, lit(16)))))
      .toDF("doc_id", "simhash", "band", "mh")
    val hamming = size(filter(sequence(lit(1), lit(64)),
      i => $"a.simhash".substr(i, lit(1)) =!= $"b.simhash".substr(i, lit(1))))
    bands.alias("a").join(bands.alias("b"), Seq("band", "mh"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter($"hamming" <= 10)
      .orderBy($"doc_a", $"doc_b")
  }

  val simhashPairsSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 2),
       |corpus AS (
       |  SELECT doc_id, array_to_string(toks, ' ') AS norm FROM base
       |  UNION ALL
       |  SELECT doc_id + 10000,
       |    array_to_string(list_slice(toks, 1, len(toks) - 1), ' ') || ' zzz'
       |  FROM base),
       |h AS (SELECT doc_id, ${tokenHashesExpr(duckDialect, "norm")} AS hs FROM corpus),
       |sigs AS (SELECT doc_id, ${simhashExpr(duckDialect, "hs", "len(hs)")} AS simhash FROM h),
       |bands AS (
       |  SELECT doc_id, simhash, b AS band, substr(simhash, b * 16 + 1, 16) AS mh
       |  FROM sigs CROSS JOIN range(0, 4) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_filter(range(1, 65),
       |      i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) AS INT) AS hamming
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.mh = b.mh
       |  WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= 10 ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash as an ESTIMATOR, not just a bucketing key: for each
    * (original, truncated-copy) pair, the fraction of agreeing minhash
    * components — the unbiased Jaccard estimate a sketch-only pipeline
    * would use when shingle sets are too big to keep — alongside the
    * exact shingle Jaccard it approximates. Estimate and truth are both
    * deterministic (md5 signatures, integer-ratio doubles), so the gate
    * hash-checks the estimator's exact output, and the row-level
    * est-vs-exact gap documents sketch accuracy at K=16.
    */
  val minhashEstimate: Q = (s, dir) => {
    import s.implicits._
    val K2 = 16
    // persisted: sh_a/sh_b are each referenced by the signature AND both
    // halves of the exact Jaccard — CollapseProject would otherwise
    // inline the shingle build into every reference (~6 evaluations/doc)
    graft.CacheTracker.persistTracked(
      Tables(s, dir, "documents")
        .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
        .filter(size($"toks") >= 15)
        .select($"doc_id",
          wordShingles($"toks", 3).as("sh_a"),
          wordShingles(slice($"toks", lit(1), size($"toks") - 5), 3).as("sh_b")))
      .select($"doc_id",
        (size(filter(
          zip_with(expr(s"minhash_md5(sh_a, $K2)"),
            expr(s"minhash_md5(sh_b, $K2)"), (x, y) => x === y),
          b => b)).cast("double") / K2).as("jaccard_est"),
        jaccard($"sh_a", $"sh_b").as("jaccard_exact"))
      .orderBy($"doc_id")
  }

  val minhashEstimateSql: String = {
    def shingles(toks: String) = sqlShingles(toks)
    def mh(sh: String) = sqlMinhash(sh, 16)
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |p AS (
       |  SELECT doc_id, ${shingles("toks")} AS sh_a,
       |    ${shingles("list_slice(toks, 1, len(toks) - 5)")} AS sh_b
       |  FROM base)
       |SELECT doc_id,
       |  CAST(len(list_filter(list_zip(${mh("sh_a")}, ${mh("sh_b")}),
       |    z -> struct_extract(z, 1) = struct_extract(z, 2))) AS DOUBLE) / 16
       |    AS jaccard_est,
       |  CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_cat(sh_a, sh_b))) AS DOUBLE) AS jaccard_exact
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Character-5-gram Jaccard + containment between each document and a
    * suffix-extended copy: containment of the original in the copy is
    * exactly 1.0, Jaccard strictly below — the asymmetric/symmetric
    * measure contrast near-dup pipelines rely on.
    */
  val ngramJaccard: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val a = docs.select($"doc_id".as("doc_a"), charNgrams($"text", 5).as("ng_a"))
    val b = docs.select(($"doc_id" + 10000).as("doc_b"),
      charNgrams(concat($"text", lit(" shared suffix payload")), 5).as("ng_b"))
    a.join(b, $"doc_b" === $"doc_a" + 10000)
      .select($"doc_a", $"doc_b",
        jaccard($"ng_a", $"ng_b").as("jaccard"),
        containment($"ng_a", $"ng_b").as("containment"))
      .orderBy($"doc_a")
  }

  val ngramJaccardSql: String = {
    def ngrams(e: String) = {
      val n = TextAnalysis.sqlNormText(e)
      s"list_distinct(list_transform(range(1, length($n) - 3), i -> substr($n, i, 5)))"
    }
    s"""WITH a AS (SELECT doc_id AS doc_a, ${ngrams("text")} AS ng_a FROM documents),
       |b AS (SELECT doc_id + 10000 AS doc_b,
       |  ${ngrams("text || ' shared suffix payload'")} AS ng_b FROM documents)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(ng_a, ng_b)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_cat(ng_a, ng_b))) AS DOUBLE) AS jaccard,
       |  CAST(len(list_intersect(ng_a, ng_b)) AS DOUBLE) /
       |    CAST(len(ng_a) AS DOUBLE) AS containment
       |FROM a JOIN b ON doc_b = doc_a + 10000
       |ORDER BY doc_a""".stripMargin
  }

  /** Near-dup CLUSTER canonicalization — the step after pair discovery
    * that actual dedup pipelines run: connected components over the
    * near-dup edge graph, keep the lowest doc_id per component as the
    * canonical copy. Pairs alone under-delete (A~B, B~C but A!~C leaves
    * a duplicate unless transitivity is applied); components close the
    * chain. The corpus is originals + TWO chained truncations (drop 5 /
    * drop 10 words), so clusters have ≥3 members exactly when the
    * chain-edge recovery works.
    *
    * Components run as distributed min-label propagation: each round is
    * one shuffle (edges ⋈ labels, min per node), O(graph diameter)
    * rounds with an explicit convergence check — the GraphX/Pregel
    * shape without the GraphX dependency, and near-dup graph diameters
    * are tiny in practice (bounded by cluster size, here 3). The edge
    * build reuses the gated MinHash+LSH plan (banded candidates → exact
    * Jaccard ≥ 0.4) — never all-pairs.
    */
  /** The cluster-gate corpus (docs + two truncated copies) and its
    * verified LSH edge graph, plus the corpus doc_id list for
    * singleton handling — shared by [[dedupClusters]] and
    * [[leakageSafeSplit]]. Returns (corpusIds, edges), both
    * checkpointed.
    */
  /** Memoized per (JVM, sf dir): both cluster gates consume the SAME
    * verified LSH edge graph — the shared INPUT artifact — so it builds
    * once; each gate still runs its own connected-components pass (the
    * clustering is `dedup_cluster_canonical`'s operator under test and
    * must stay visible to the bench). The memo stores scratch-PARQUET
    * paths, not DataFrames (the [[graft.Artifacts]] entry pattern): a
    * checkpointed frame is bound to the creating SparkContext and would
    * dangle if a later session in the same JVM hit the same dir, while
    * a path re-reads cleanly from any session.
    */
  private def clusterLabels(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val (idsPath, edgesPath) = graft.Artifacts.memo(s"dedup.cluster|$dir") {
      clusterCorpusEdges(s, dir)
    }
    val labels = graft.operators.ConnectedComponents
      .run(s.read.parquet(edgesPath), "doc_a", "doc_b")
    (s.read.parquet(idsPath), labels)
  }

  /** Builds the cluster corpus + verified edge graph and materializes
    * both to scratch parquet; returns (idsPath, edgesPath).
    */
  private def clusterCorpusEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15)
    assertVariantIdHeadroom(s, dir)
    val corpus = base.select(explode(array(
        struct($"doc_id", $"toks"),
        struct(($"doc_id" + 10000).as("doc_id"),
          slice($"toks", lit(1), size($"toks") - 5).as("toks")),
        struct(($"doc_id" + 20000).as("doc_id"),
          slice($"toks", lit(1), size($"toks") - 10).as("toks")))).as("r"))
      .select($"r.doc_id", $"r.toks")
    val shingled = graft.CacheTracker.persistTracked(
      corpus.select($"doc_id", wordShingles($"toks", 3).as("sh")))
    val bands = graft.CacheTracker.persistTracked(bandRows(
      shingled.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $K)"))),
      "doc_id", R))
    // materialize the WHOLE LSH pipeline exactly once before the CC
    // loop (the operator's contract): lazy persists + the loop's
    // self-joins would otherwise race the un-materialized caches and
    // re-run shingle/minhash per action (measured 12 s/round at
    // sf0.1). Once the edge list exists the heavyweight upstream
    // caches are dead weight — drop them immediately.
    val dirKey = dir.replaceAll("[^A-Za-z0-9]", "_")
    def path(name: String) = s"${graft.Scratch.dir}/graft_cluster_" +
      s"${name}_${graft.Scratch.runToken}_$dirKey"
    val (idsPath, edgesPath) = (path("ids"), path("edges"))
    lshCandidates(bands, "doc_id")
      .join(shingled.toDF("doc_a", "sh_a"), "doc_a")
      .join(shingled.toDF("doc_b", "sh_b"), "doc_b")
      .filter(jaccard($"sh_a", $"sh_b") >= 0.4)
      .select($"doc_a", $"doc_b")
      .write.mode("overwrite").parquet(edgesPath)
    corpus.select($"doc_id").write.mode("overwrite").parquet(idsPath)
    shingled.unpersist(false)
    bands.unpersist(false)
    (idsPath, edgesPath)
  }

  val dedupClusters: Q = (s, dir) => {
    import s.implicits._
    val (_, labels) = clusterLabels(s, dir)
    labels.groupBy($"comp".as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        array_join(transform(array_sort(collect_list($"node")),
          x => x.cast("string")), ",").as("members"))
      .orderBy($"cluster_id")
  }

  /** The docs→corpus→LSH→edges→connected-components CTE chain shared by
    * the cluster gate and the leakage-safe split gate.
    */
  private val clusterChainSql: String =
    s"""docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL
       |  SELECT doc_id + 10000, list_slice(toks, 1, len(toks) - 5) FROM base
       |  UNION ALL
       |  SELECT doc_id + 20000, list_slice(toks, 1, len(toks) - 10) FROM base),
       |shingled AS (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh
       |  FROM corpus),
       |sig0 AS (
       |  SELECT doc_id, ${sqlMinhash("sh", K)} AS mh0
       |  FROM shingled),
       |sig AS (
       |  SELECT doc_id, ${sqlBandedKeys("mh0", Bands, R)} AS mh FROM sig0),
       |bands AS (
       |  SELECT doc_id, struct_extract(u, 'band') AS band, struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM sig)),
       |${sqlCappedCand("doc_id")},
       |edges AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN shingled sa ON cand.doc_a = sa.doc_id
       |            JOIN shingled sb ON cand.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_cat(sa.sh, sb.sh))) AS DOUBLE) >= 0.4),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION ALL SELECT doc_b, doc_a FROM edges),
       |nodes AS (SELECT DISTINCT src AS node FROM und),
       |reach(node, comp) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT u.dst, r.comp FROM reach r JOIN und u ON r.node = u.src),
       |cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $clusterChainSql
       |SELECT comp AS cluster_id, COUNT(*) AS n_members,
       |  array_to_string(list_sort(list(node)), ',') AS members
       |FROM cc GROUP BY comp ORDER BY cluster_id""".stripMargin

  /** Quality-aware canonical selection — the "which copy do we keep"
    * decision after clustering: within every near-dup cluster keep the
    * member with the MOST TOKENS (ties to the smallest doc_id), i.e.
    * the least-truncated rendering, and report what was dropped.
    * `dedup_cluster_canonical` answers "what belongs together";
    * this gate answers the curation step after it — production
    * pipelines keep the best-quality member (longest text is the
    * canonical integer-exact proxy on this corpus, whose planted
    * near-dups ARE truncations), never just the lowest id. Lengths
    * derive from the id arithmetic of the cluster corpus (base id +
    * 10000·k drops 5·k tokens), so the gate needs no second tokenize
    * pass; singletons keep themselves.
    *
    * Scale shape: the shared memoized edge artifact + one CC pass, a
    * broadcast-sized length join, one rank window keyed by cluster —
    * all bounded by cluster size, nothing corpus-quadratic.
    */
  val keepBest: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (corpusIds, labels) = clusterLabels(s, dir)
    val groups = corpusIds
      .join(labels.toDF("doc_id", "comp"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_id"))
    val baseLen = Tables(s, dir, "documents")
      .select($"doc_id".as("base_id"),
        size(TextAnalysis.tokens($"text")).as("blen"))
      .filter($"blen" >= 15)
    val lens = groups
      .withColumn("base_id", $"doc_id" % 10000L)
      .join(baseLen, "base_id")
      .select($"doc_id", $"cluster_id",
        ($"blen" - expr("doc_id div 10000") * 5L).as("len"))
    val w = Window.partitionBy($"cluster_id").orderBy($"len".desc, $"doc_id")
    lens.withColumn("rk", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rk" === 1, $"doc_id")).as("kept_id"),
        max(when($"rk" === 1, $"len")).as("kept_len"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy($"cluster_id")
  }

  val keepBestSql: String =
    s"""WITH RECURSIVE $clusterChainSql,
       |grp AS (
       |  SELECT c.doc_id, COALESCE(cc.comp, c.doc_id) AS cluster_id
       |  FROM (SELECT doc_id FROM corpus) c LEFT JOIN cc ON c.doc_id = cc.node),
       |lens AS (
       |  SELECT g.doc_id, g.cluster_id,
       |    CAST(len(b.toks) - (g.doc_id // 10000) * 5 AS BIGINT) AS len
       |  FROM grp g JOIN base b ON g.doc_id % 10000 = b.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cluster_id ORDER BY len DESC, doc_id) AS rk
       |  FROM lens)
       |SELECT cluster_id, COUNT(*) AS n_members,
       |  CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_id,
       |  CAST(MAX(CASE WHEN rk = 1 THEN len END) AS BIGINT) AS kept_len,
       |  COUNT(*) - 1 AS n_dropped
       |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Leakage-safe train/val/test split — the eval-contamination
    * guarantee [[graft.pipeline.CurationQueries.hashSplit]]'s per-doc
    * bucket cannot give: a document and its near-duplicates must land
    * on the SAME side of every split boundary, or test answers leak
    * into training. Near-dup groups come from connected components over
    * the verified LSH edge graph (singletons are their own group), and
    * the split decision is an md5 bucket of the GROUP id — one hash per
    * group, structurally incapable of splitting a group. Costs exactly
    * the cluster pass plus a scan-local hash; at 100 TB the group table
    * is the dedup output you already maintain.
    */
  val leakageSafeSplit: Q = (s, dir) => {
    import s.implicits._
    val (corpusIds, labels) = clusterLabels(s, dir)
    val groups = corpusIds
      .join(labels.toDF("doc_id", "comp"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("group_id"))
    val b = graft.functions.KeyHash.bucket100("leak|", $"group_id")
    groups
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"group_id").as("n_groups"),
        min($"doc_id").as("min_doc_id"))
      .orderBy($"split")
  }

  val leakageSafeSplitSql: String = {
    val b = graft.functions.KeyHash.sqlBucket100("leak|", "group_id")
    s"""WITH RECURSIVE $clusterChainSql,
       |assign AS (
       |  SELECT c.doc_id, COALESCE(cc.comp, c.doc_id) AS group_id
       |  FROM corpus c LEFT JOIN cc ON c.doc_id = cc.node),
       |sp AS (
       |  SELECT doc_id, group_id,
       |    CASE WHEN $b < 80 THEN 'train'
       |         WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM assign)
       |SELECT split, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT group_id) AS n_groups,
       |  MIN(doc_id) AS min_doc_id
       |FROM sp GROUP BY split ORDER BY split""".stripMargin
  }

  /** Incremental ingest dedup — the DAILY path at 100 TB: a new batch
    * of documents is checked against the EXISTING corpus without ever
    * comparing corpus × corpus. The batch (a hash-selected 20% of docs,
    * truncated to simulate re-crawled near-identical content) bands on
    * the same MinHash keys as the corpus; the candidate join is
    * batch-bands ⋈ corpus-bands on (band, key) — cost proportional to
    * the BATCH, not the corpus, which is what lets a 100 TB index
    * absorb a daily feed (corpus bands would be a precomputed table in
    * production; here they build from the same scan). Verified dups get
    * a drop verdict with their match; unmatched batch docs keep.
    */
  val incrementalIngest: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15)
    val corpusSh = graft.CacheTracker.persistTracked(
      base.select($"doc_id", wordShingles($"toks", 3).as("sh")))
    val inBatch = graft.functions.KeyHash.bucket100("incr|", $"doc_id") >= 80
    val batchSh = graft.CacheTracker.persistTracked(
      base.filter(inBatch)
        .select(($"doc_id" + 50000).as("doc_id"),
          wordShingles(slice($"toks", lit(1), size($"toks") - 5), 3).as("sh")))
    def bandsOf(sh: org.apache.spark.sql.DataFrame) = bandRows(
      sh.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $K)"))),
      "doc_id", R)
    val cand = bandsOf(batchSh).toDF("b_doc", "band", "mh")
      .join(bandsOf(corpusSh).toDF("c_doc", "band", "mh"), Seq("band", "mh"))
      .select($"b_doc", $"c_doc").distinct()
    val verified = cand
      .join(batchSh.toDF("b_doc", "sh_b"), "b_doc")
      .join(corpusSh.toDF("c_doc", "sh_c"), "c_doc")
      .select($"b_doc", $"c_doc", jaccard($"sh_b", $"sh_c").as("jaccard"))
      .filter($"jaccard" >= 0.4)
    batchSh.select($"doc_id")
      .join(verified, $"doc_id" === $"b_doc", "left")
      .select($"doc_id", $"c_doc".as("matched"), $"jaccard",
        when($"c_doc".isNull, "keep").otherwise("drop").as("verdict"))
      .orderBy($"doc_id", $"matched")
  }

  val incrementalIngestSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |corpus_sh AS (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh
       |  FROM base),
       |batch AS (
       |  SELECT doc_id + 50000 AS doc_id,
       |    list_slice(toks, 1, len(toks) - 5) AS toks
       |  FROM base
       |  WHERE ${graft.functions.KeyHash.sqlBucket100("incr|", "doc_id")} >= 80),
       |batch_sh AS (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh
       |  FROM batch),
       |c_sig AS (
       |  SELECT doc_id, ${sqlBandedKeys(sqlMinhash("sh", K), Bands, R)} AS mh
       |  FROM corpus_sh),
       |b_sig AS (
       |  SELECT doc_id, ${sqlBandedKeys(sqlMinhash("sh", K), Bands, R)} AS mh
       |  FROM batch_sh),
       |c_bands AS (
       |  SELECT doc_id AS c_doc, struct_extract(u, 'band') AS band,
       |    struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM c_sig)),
       |b_bands AS (
       |  SELECT doc_id AS b_doc, struct_extract(u, 'band') AS band,
       |    struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM b_sig)),
       |cand AS (
       |  SELECT DISTINCT b_doc, c_doc
       |  FROM b_bands JOIN c_bands ON b_bands.band = c_bands.band
       |    AND b_bands.mh = c_bands.mh),
       |verified AS (
       |  SELECT b_doc, c_doc,
       |    CAST(len(list_intersect(sb.sh, sc.sh)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_cat(sb.sh, sc.sh))) AS DOUBLE) AS jaccard
       |  FROM cand JOIN batch_sh sb ON cand.b_doc = sb.doc_id
       |            JOIN corpus_sh sc ON cand.c_doc = sc.doc_id
       |  WHERE CAST(len(list_intersect(sb.sh, sc.sh)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_cat(sb.sh, sc.sh))) AS DOUBLE) >= 0.4)
       |SELECT b.doc_id, v.c_doc AS matched, v.jaccard,
       |  CASE WHEN v.c_doc IS NULL THEN 'keep' ELSE 'drop' END AS verdict
       |FROM batch_sh b LEFT JOIN verified v ON b.doc_id = v.b_doc
       |ORDER BY b.doc_id, matched""".stripMargin

  /** Benchmark decontamination — the check every training pipeline runs
    * before a model ships: which training documents share long n-grams
    * with the held-out eval set? Eval docs are a hash-selected handful;
    * 5-gram shingles explode on both sides and join on the shingle key
    * (one shuffle, candidate pairs only — the same no-all-pairs
    * discipline as LSH, except here the shingle IS the key because
    * decontamination wants exact long-n-gram hits, not similarity).
    * Output: per (train, eval) pair the shared-shingle count and the
    * containment of the eval doc — the score a removal threshold sits
    * on. At 100 TB the eval side is tiny and broadcasts.
    */
  val contaminationCheck: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
    // the "eval set": 25-token spans lifted from a hash-selected ~3% of
    // docs (re-keyed +90000) — planted contamination whose source doc
    // MUST surface with containment 1.0, on top of any organic overlap
    val isEval = graft.functions.KeyHash.bucket100("eval|", $"doc_id") < 3
    val evalSh = base.filter(isEval && size($"toks") >= 32)
      .select(($"doc_id" + 90000).as("eval_id"),
        wordShingles(slice($"toks", lit(8), lit(25)), 5).as("sh"))
      .select($"eval_id", explode($"sh").as("g"), size($"sh").as("eval_n"))
    val trainSh = base.filter(size($"toks") >= 5)
      .select($"doc_id".as("train_id"), explode(wordShingles($"toks", 5)).as("g"))
    trainSh.join(broadcast(evalSh), "g")
      .groupBy($"train_id", $"eval_id")
      .agg(count(lit(1)).as("n_shared"), max($"eval_n").as("eval_n"))
      .select($"train_id", $"eval_id", $"n_shared",
        ($"n_shared".cast("double") / $"eval_n").as("containment"))
      .orderBy($"train_id", $"eval_id")
  }

  val contaminationCheckSql: String = {
    val b = graft.functions.KeyHash.sqlBucket100("eval|", "doc_id")
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |evsh AS (
       |  SELECT doc_id + 90000 AS eval_id,
       |    ${sqlShingles("list_slice(toks, 8, 32)", 5)} AS sh
       |  FROM docs WHERE $b < 3 AND len(toks) >= 32),
       |ev AS (
       |  SELECT eval_id, unnest(sh) AS g, len(sh) AS eval_n FROM evsh),
       |trsh AS (
       |  SELECT doc_id AS train_id, ${sqlShingles("toks", 5)} AS sh
       |  FROM docs WHERE len(toks) >= 5),
       |tr AS (
       |  SELECT train_id, unnest(sh) AS g FROM trsh)
       |SELECT train_id, eval_id, COUNT(*) AS n_shared,
       |  CAST(COUNT(*) AS DOUBLE) / MAX(eval_n) AS containment
       |FROM tr JOIN ev USING (g)
       |GROUP BY train_id, eval_id
       |ORDER BY train_id, eval_id""".stripMargin
  }

  /** Hot-band overflow accounting — the [[NearDup.lshCandidates]] guard
    * made visible: the minhashLsh corpus plus [[BoilerClones]] copies of
    * one boilerplate string (the same-header/footer failure mode that
    * makes a (band, key) group quadratic at corpus scale). All clones
    * collapse onto ONE key in EVERY band, blowing past
    * [[graft.Tuning.lshBandCap]]; the gate reports, per band, the group
    * count, how many groups overflowed and how many docs they held (the
    * rows the guard drops), and the post-cap candidate-pair bound
    * Σ g·(g-1)/2 over surviving groups — the boundedness certificate:
    * ≤ n_groups·cap·(cap-1)/2 by construction, where the unguarded plan
    * would carry +{BoilerClones choose 2} pairs per band from the hot
    * group alone.
    */
  private val BoilerWords =
    "terms of service all rights reserved this page is copyright by " +
      "the site owner and may not be reproduced without permission"
  private val BoilerClones = 40

  val lshHotBand: Q = (s, dir) => {
    import s.implicits._
    val cap = graft.Tuning.lshBandCap
    val corpus = shingledCorpus(s, dir).unionByName(
      s.range(0, BoilerClones).select(($"id" + 50000).as("doc_id"),
        wordShingles(split(lit(BoilerWords), " "), 3).as("sh")))
    val bands = bandRows(
      corpus.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $K)"))),
      "doc_id", R)
    bands.groupBy($"band", $"mh").agg(count(lit(1)).as("g"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_groups"),
        sum(when($"g" > cap, 1L).otherwise(0L)).as("n_hot_groups"),
        sum(when($"g" > cap, $"g").otherwise(0L)).as("n_hot_docs"),
        sum(when($"g" <= cap, expr("(g * (g - 1)) div 2")).otherwise(0L))
          .as("kept_pair_bound"))
      .orderBy($"band")
  }

  val lshHotBandSql: String = {
    val cap = graft.Tuning.lshBandCap
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL
       |  SELECT doc_id + 10000, list_slice(toks, 1, len(toks) - 5) FROM base),
       |allsh AS (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh FROM corpus
       |  UNION ALL
       |  SELECT 50000 + j,
       |    ${sqlShingles(s"string_split('$BoilerWords', ' ')")}
       |  FROM range(0, $BoilerClones) t(j)),
       |sig0 AS (
       |  SELECT doc_id, ${sqlMinhash("sh", K)} AS mh0 FROM allsh),
       |sig AS (
       |  SELECT doc_id, ${sqlBandedKeys("mh0", Bands, R)} AS mh FROM sig0),
       |bands AS (
       |  SELECT doc_id, struct_extract(u, 'band') AS band, struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM sig)),
       |gsz AS (SELECT band, mh, COUNT(*) AS g FROM bands GROUP BY band, mh)
       |SELECT CAST(band AS INT) AS band, COUNT(*) AS n_groups,
       |  CAST(SUM(CASE WHEN g > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_groups,
       |  CAST(SUM(CASE WHEN g > $cap THEN g ELSE 0 END) AS BIGINT) AS n_hot_docs,
       |  CAST(SUM(CASE WHEN g <= $cap THEN (g * (g - 1)) // 2 ELSE 0 END) AS BIGINT)
       |    AS kept_pair_bound
       |FROM gsz GROUP BY band ORDER BY band""".stripMargin
  }

  /** Exact duplicated-substring detection at fixed k-token resolution —
    * the dedup pass exact-hash and MinHash both miss: a document that
    * QUOTES a span of another (boilerplate, license blocks, copied
    * paragraphs) is neither byte-identical nor high-Jaccard, yet the
    * span itself is verbatim training-data duplication. The
    * suffix-array formulation of this op (find all substrings ≥ k
    * repeated across the corpus) is inherently sequential; the
    * distributed re-expression is positional k-gram fingerprints — it
    * finds exactly the duplicated spans of length ≥ k, with start/end
    * resolution k−1 tokens (spans shorter than k are invisible; that is
    * the same k cutoff the sequential algorithm uses as its minimum
    * match length).
    *
    * Plan (corpus-size-proportional, three exchanges): positional gram
    * keys in the scan (one md5 per window, no distinct) → ONE shuffle on
    * the gram key to find keys in ≥2 distinct docs → equi-join back to
    * positions → per-doc sort-window merges overlapping [p, p+k) spans
    * into covered-token counts (LEAST(k, next−p) telescopes the interval
    * union, no gaps double-counted). Never materializes pairs — cost is
    * windows + duplicated windows, not candidates².
    *
    * The gate corpus plants two OVERLAPPING 20-token excerpts (offsets
    * 6 and 16) of each selected doc as standalone docs: the original's
    * covered region [5, 35) must merge across the two spans' partners,
    * the excerpts read back fully covered (frac 1.0), and docs outside
    * the planted set stay at whatever organic 8-gram overlap the corpus
    * carries.
    */
  private val SubK = 8

  /** The exact-substring core over any (doc_id, toks) corpus: per-doc
    * covered-token counts for spans of ≥ k tokens appearing in ≥ 2
    * distinct docs. Shared by the gate and ScaleStressSpec.
    */
  private[graft] def substringCoverage(
      corpus0: org.apache.spark.sql.DataFrame, k: Int):
      org.apache.spark.sql.DataFrame = {
    val s = corpus0.sparkSession
    import s.implicits._
    val corpus = graft.CacheTracker.persistTracked(corpus0)
    // one md5 per window in the scan; persisted because both the
    // duplicated-key aggregation and the position join read it
    val grams = graft.CacheTracker.persistTracked(
      corpus.select($"doc_id", posexplode(posGramKeys($"toks", k)))
        .toDF("doc_id", "pos", "g"))
    // "appears in ≥ 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) —
    // single-pass aggregates instead of the distinct-agg's extra
    // dedup level (the r16 substring-spans predicate, verdict item 7)
    val dup = grams.groupBy($"g")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx").select($"g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val covered = grams.join(dup, "g")
      .withColumn("c", least(lit(k),
        coalesce(lead($"pos", 1).over(w) - $"pos", lit(k))))
      .groupBy($"doc_id").agg(sum($"c").as("dup_toks"))
    corpus.select($"doc_id", size($"toks").as("n_toks"))
      .join(covered, Seq("doc_id"), "left")
      .select($"doc_id", $"n_toks",
        coalesce($"dup_toks", lit(0L)).as("dup_toks"),
        round(coalesce($"dup_toks", lit(0L)).cast("double") /
          $"n_toks".cast("double"), 9).as("dup_frac"))
      .orderBy($"doc_id")
  }

  val exactSubstring: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15)
    val quoted = base
      .filter(graft.functions.KeyHash.bucket100("sub|", $"doc_id") < 20 &&
        size($"toks") >= 35)
    substringCoverage(base
      .unionByName(quoted.select(($"doc_id" + 20000).as("doc_id"),
        slice($"toks", lit(6), lit(20)).as("toks")))
      .unionByName(quoted.select(($"doc_id" + 40000).as("doc_id"),
        slice($"toks", lit(16), lit(20)).as("toks"))), SubK)
  }

  val exactSubstringSql: String = {
    val b = graft.functions.KeyHash.sqlBucket100("sub|", "doc_id")
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |quoted AS (SELECT * FROM base WHERE $b < 20 AND len(toks) >= 35),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL SELECT doc_id + 20000, list_slice(toks, 6, 25) FROM quoted
       |  UNION ALL SELECT doc_id + 40000, list_slice(toks, 16, 35) FROM quoted),
       |gr AS (
       |  SELECT doc_id, unnest(${sqlPosGramStructs("toks", SubK)}) AS u
       |  FROM corpus),
       |grams AS (
       |  SELECT doc_id, struct_extract(u, 'p') AS pos, struct_extract(u, 'g') AS g
       |  FROM gr),
       |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
       |starts AS (
       |  SELECT doc_id, pos, LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM grams JOIN dup USING (g)),
       |cov AS (
       |  SELECT doc_id, CAST(SUM(LEAST($SubK, COALESCE(nxt - pos, $SubK))) AS BIGINT)
       |    AS dup_toks
       |  FROM starts GROUP BY doc_id)
       |SELECT c.doc_id, CAST(len(c.toks) AS INT) AS n_toks,
       |  CAST(COALESCE(v.dup_toks, 0) AS BIGINT) AS dup_toks,
       |  round(CAST(COALESCE(v.dup_toks, 0) AS DOUBLE) / CAST(len(c.toks) AS DOUBLE), 9)
       |    AS dup_frac
       |FROM corpus c LEFT JOIN cov v ON c.doc_id = v.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  /** URL canonicalization + dedup — the step-zero dedup a web-crawl
    * pipeline runs before any content hashing: the same page arrives
    * under scheme/host case variants, default ports, www prefixes,
    * trailing slashes, tracking parameters (utm_*, fbclid, gclid, ref),
    * shuffled query-parameter order, and fragments. Each document gets
    * a deterministically-messy synthetic URL (pure doc_id/source
    * arithmetic, identical in both dialects), the canonicalizer
    * normalizes all seven mess axes, and dedup groups by the canonical
    * form keeping the lowest doc_id.
    *
    * Scale shape: URL derivation + canonicalization are map-only
    * string/regex work in the scan (all codegen built-ins, no UDF);
    * the only shuffle is the groupBy on the canonical URL — exactly
    * the one a 100 TB crawl dedup needs. Regexes are RE2-safe (no
    * backrefs/lookarounds); param sorting is binary on ASCII, so both
    * engines order identically.
    */
  val urlCanonical: Q = (s, dir) => {
    import s.implicits._
    val raw = Tables(s, dir, "documents")
      .select($"doc_id",
        concat($"source", lit(".example.org")).as("hb"),
        $"doc_id".%(4).as("m4"), $"doc_id".%(3).as("m3"),
        $"doc_id".%(5).as("m5"), $"doc_id".%(7).as("m7"),
        $"doc_id".%(6).as("m6"), $"doc_id".%(2).as("m2"),
        $"doc_id".%(11).as("m11"), expr("doc_id div 10").as("pg"))
      .withColumn("scheme_raw",
        when($"m4" === 0, "http").when($"m4" === 1, "HTTP")
          .when($"m4" === 2, "https").otherwise("HTTPS"))
      .withColumn("host_www",
        when($"m5" === 0, concat(lit("www."), $"hb")).otherwise($"hb"))
      .withColumn("host_raw",
        when($"m3" === 0, upper($"host_www")).otherwise($"host_www"))
      .withColumn("port_raw",
        when($"m7" === 0, when($"m4" >= 2, ":443").otherwise(":80"))
          .otherwise(""))
      .withColumn("path_raw",
        concat(lit("/docs/"), $"pg".cast("string"),
          when($"m2" === 0, "/").otherwise("")))
      .withColumn("idp", concat(lit("id="), ($"doc_id" % 5).cast("string")))
      .withColumn("utm", concat(lit("utm_source=u"), $"m3".cast("string")))
      .withColumn("query_raw",
        when($"m6" === 0, concat(lit("?"), $"utm", lit("&"), $"idp"))
          .when($"m6" === 3, concat(lit("?"), $"idp", lit("&"), $"utm"))
          .when($"m6" === 1 || $"m6" === 4, concat(lit("?"), $"idp"))
          .otherwise(""))
      .withColumn("frag_raw",
        when($"m11" === 0, concat(lit("#sec"), $"m3".cast("string")))
          .otherwise(""))
      .select($"doc_id",
        concat($"scheme_raw", lit("://"), $"host_raw", $"port_raw",
          $"path_raw", $"query_raw", $"frag_raw").as("url"))
    val canon = canonicalizeUrls(s, raw)
    canon.groupBy($"canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        min($"doc_id").as("kept_id"),
        concat_ws(",", transform(sort_array(collect_list($"doc_id")),
          i => i.cast("string"))).as("variant_ids"))
      .orderBy($"canonical_url")
  }

  /** The canonicalizer itself (input: any frame with a `url` column;
    * output: + `canonical_url`) — split out so UrlCanonicalSpec can pin
    * each mess axis on hand-built URLs independent of the corpus.
    */
  private[text] def canonicalizeUrls(s: org.apache.spark.sql.SparkSession,
      raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    raw
      .withColumn("nofrag", regexp_replace($"url", "#.*", ""))
      .withColumn("scheme",
        lower(regexp_extract($"nofrag", "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))
      .withColumn("hostport",
        lower(regexp_extract($"nofrag",
          "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)))
      .withColumn("h1",
        when($"scheme" === "http" && $"hostport".endsWith(":80"),
          expr("substring(hostport, 1, length(hostport) - 3)"))
          .when($"scheme" === "https" && $"hostport".endsWith(":443"),
            expr("substring(hostport, 1, length(hostport) - 4)"))
          .otherwise($"hostport"))
      .withColumn("host",
        when(expr("substring(h1, 1, 4)") === "www.", expr("substring(h1, 5)"))
          .otherwise($"h1"))
      .withColumn("p1",
        regexp_replace(regexp_extract($"nofrag",
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1), "/+$", ""))
      .withColumn("cpath", when($"p1" === "", "/").otherwise($"p1"))
      .withColumn("qsort", array_join(array_sort(
        filter(split(regexp_extract($"nofrag", "\\?(.*)", 1), "&"),
          p => p =!= "" &&
            !(substring(p, 1, 4) === "utm_" || substring(p, 1, 7) === "fbclid=" ||
              substring(p, 1, 6) === "gclid=" || substring(p, 1, 4) === "ref="))),
        "&"))
      .withColumn("canonical_url",
        concat($"scheme", lit("://"), $"host", $"cpath",
          when($"qsort" =!= "", concat(lit("?"), $"qsort")).otherwise("")))
  }

  val urlCanonicalSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 4 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP'
      |          WHEN 2 THEN 'https' ELSE 'HTTPS' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN upper(hw) ELSE hw END) ||
      |    (CASE WHEN doc_id % 7 = 0 THEN
      |       (CASE WHEN doc_id % 4 >= 2 THEN ':443' ELSE ':80' END)
      |     ELSE '' END) ||
      |    '/docs/' || CAST(doc_id // 10 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '?' || utm || '&' || idp
      |          WHEN doc_id % 6 = 3 THEN '?' || idp || '&' || utm
      |          WHEN doc_id % 6 IN (1, 4) THEN '?' || idp
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 11 = 0
      |          THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
      |    AS url
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 5 = 0 THEN 'www.' || source || '.example.org'
      |           ELSE source || '.example.org' END AS hw,
      |      'id=' || CAST(doc_id % 5 AS VARCHAR) AS idp,
      |      'utm_source=u' || CAST(doc_id % 3 AS VARCHAR) AS utm
      |    FROM documents)),
      |c1 AS (
      |  SELECT doc_id, regexp_replace(url, '#.*', '') AS nofrag FROM raw),
      |c2 AS (
      |  SELECT doc_id, nofrag,
      |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
      |      AS hostport
      |  FROM c1),
      |c3 AS (
      |  SELECT doc_id, nofrag, scheme,
      |    CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
      |           THEN substring(hostport, 1, length(hostport) - 3)
      |         WHEN scheme = 'https' AND hostport LIKE '%:443'
      |           THEN substring(hostport, 1, length(hostport) - 4)
      |         ELSE hostport END AS h1
      |  FROM c2),
      |c4 AS (
      |  SELECT doc_id, nofrag, scheme,
      |    CASE WHEN substring(h1, 1, 4) = 'www.' THEN substring(h1, 5)
      |         ELSE h1 END AS host,
      |    regexp_replace(
      |      regexp_extract(nofrag,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
      |      AS p1,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(nofrag, '\?(.*)', 1), '&'),
      |      p -> p <> '' AND NOT (
      |        substring(p, 1, 4) = 'utm_' OR substring(p, 1, 7) = 'fbclid=' OR
      |        substring(p, 1, 6) = 'gclid=' OR substring(p, 1, 4) = 'ref='))),
      |      '&') AS qsort
      |  FROM c3),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    (CASE WHEN p1 = '' THEN '/' ELSE p1 END) ||
      |    (CASE WHEN qsort <> '' THEN '?' || qsort ELSE '' END)
      |      AS canonical_url
      |  FROM c4)
      |SELECT canonical_url, COUNT(*) AS n_variants, MIN(doc_id) AS kept_id,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS variant_ids
      |FROM canon GROUP BY canonical_url
      |ORDER BY canonical_url""".stripMargin

  /** Containment-based fragment dedup — the asymmetric measure Jaccard
    * dedup is blind to: a document whose text is a PREFIX of another
    * (quote-and-extend posts, partial recrawls, truncated mirrors) has
    * every shingle contained in the original (C = |A∩B|/|A| = 1) while
    * its Jaccard is only ≈ the length ratio, below any sane near-dup
    * threshold. The gate plants a 70%-prefix fragment per long doc —
    * prefix shingles are a SUBSET of the original's by construction —
    * and recovers (fragment, original) pairs whose max-side containment
    * clears 0.9, reported in exact integer ppm (no float near the
    * hash). Banding is the SAME MinHash-LSH engine as
    * [[minhashLsh]] (signatures in the scan, one shuffle on the capped
    * band key, exact set math only on candidate pairs) — the fragment's
    * ~0.7 Jaccard is exactly what the r=2 multi-band shape is
    * AND/OR-amplified to recover.
    */
  val shingleContainment: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15)
    val corpus = base.select(explode(array(
        struct($"doc_id", $"toks"),
        struct(($"doc_id" + 20000).as("doc_id"),
          slice($"toks", lit(1),
            expr("cast((size(toks) * 7) div 10 as int)")).as("toks")))).as("r"))
      .select($"r.doc_id", $"r.toks")
    // read three times (signatures + both sides of the exact verify)
    val shingled = graft.CacheTracker.persistTracked(
      corpus.select($"doc_id", wordShingles($"toks", 3).as("sh")))
    val bands = graft.CacheTracker.persistTracked(bandRows(
      shingled.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $K)"))),
      "doc_id", R))
    lshCandidates(bands, "doc_id")
      .join(shingled.toDF("doc_a", "sh_a"), "doc_a")
      .join(shingled.toDF("doc_b", "sh_b"), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).as("inter"),
        size($"sh_a").as("size_a"), size($"sh_b").as("size_b"))
      .select($"doc_a", $"doc_b", $"inter", $"size_a", $"size_b",
        expr("(1000000 * cast(inter as bigint)) div size_a").as("cont_a_ppm"),
        expr("(1000000 * cast(inter as bigint)) div size_b").as("cont_b_ppm"))
      .filter(greatest($"cont_a_ppm", $"cont_b_ppm") >= 900000)
      .orderBy($"doc_a", $"doc_b")
  }

  val shingleContainmentSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL
       |  SELECT doc_id + 20000, list_slice(toks, 1, (len(toks) * 7) // 10)
       |  FROM base),
       |shingled AS (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh FROM corpus),
       |sig0 AS (
       |  SELECT doc_id, ${sqlMinhash("sh", K)} AS mh0 FROM shingled),
       |sig AS (
       |  SELECT doc_id, ${sqlBandedKeys("mh0", Bands, R)} AS mh FROM sig0),
       |bands AS (
       |  SELECT doc_id, struct_extract(u, 'band') AS band, struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM sig)),
       |${sqlCappedCand("doc_id")},
       |m AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS INTEGER) AS inter,
       |    CAST(len(sa.sh) AS INTEGER) AS size_a,
       |    CAST(len(sb.sh) AS INTEGER) AS size_b
       |  FROM cand JOIN shingled sa ON cand.doc_a = sa.doc_id
       |            JOIN shingled sb ON cand.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, inter, size_a, size_b,
       |  CAST((1000000 * CAST(inter AS BIGINT)) // size_a AS BIGINT)
       |    AS cont_a_ppm,
       |  CAST((1000000 * CAST(inter AS BIGINT)) // size_b AS BIGINT)
       |    AS cont_b_ppm
       |FROM m
       |WHERE greatest(
       |    (1000000 * CAST(inter AS BIGINT)) // size_a,
       |    (1000000 * CAST(inter AS BIGINT)) // size_b) >= 900000
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Decontamination REMOVAL — the step after [[contaminationCheck]]'s
    * detection: every train-doc token covered by a 5-gram window that
    * appears in the eval set (the same hash-selected planted spans) is
    * cut, with overlapping/adjacent contaminated windows merged into
    * maximal spans first (the [[exactSubstring]] telescope: a new span
    * opens when the next matched window starts more than 5 tokens after
    * the previous — window coverage [p, p+4], so p ≤ prev+5 chains).
    * Report per contaminated doc: tokens before, merged span count,
    * tokens removed, tokens after — the accounting a release audit
    * signs, integer-only.
    *
    * Scale shape: the eval gram set is eval-sized and BROADCAST (md5
    * keys); matched positions ride one doc-keyed window shuffle
    * (reducer-bounded by doc length); the report is a rollup on the
    * same key. Train-side work is one scan however large the corpus.
    */
  val decontaminateSpans: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
    val isEval = graft.functions.KeyHash.bucket100("eval|", $"doc_id") < 3
    val evalG = base.filter(isEval && size($"toks") >= 32)
      .select(explode(wordShingles(slice($"toks", lit(8), lit(25)), 5)).as("t"))
      .select(md5($"t".cast("binary")).as("g")).distinct()
    val pos = base.filter(size($"toks") >= 5)
      .select($"doc_id", size($"toks").as("n_toks"),
        posexplode(posGramKeys($"toks", 5)).as(Seq("p", "g")))
    val w = Window.partitionBy($"doc_id").orderBy($"p")
    val run = Window.partitionBy($"doc_id").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = pos.join(broadcast(evalG), "g")
      .withColumn("prev", lag($"p", 1).over(w))
      .withColumn("ns",
        when($"prev".isNull || $"p" > $"prev" + 5, 1L).otherwise(0L))
      .withColumn("span_id", sum($"ns").over(run))
      .groupBy($"doc_id", $"span_id")
      .agg(max($"n_toks").as("n_toks"),
        (max($"p") + 4 - min($"p") + 1).cast("long").as("covered"))
    spans.groupBy($"doc_id")
      .agg(max($"n_toks").cast("long").as("tokens_before"),
        count(lit(1)).as("n_spans"),
        sum($"covered").as("tokens_removed"))
      .select($"doc_id", $"tokens_before", $"n_spans", $"tokens_removed",
        ($"tokens_before" - $"tokens_removed").as("tokens_after"))
      .orderBy($"doc_id")
  }

  /** Benchmark decontamination at the canonical 13-gram scale (the
    * GPT-3 appendix-C / Lee et al. hygiene step) — the REMOVAL DECISION
    * on every training doc: any exact 13-gram collision with the
    * held-out eval set marks the doc `drop`. Complements
    * [[contaminationCheck]] (per-pair 5-gram containment scores) and
    * [[decontaminateSpans]] (span-level token accounting) with the
    * corpus-wide verdict column a pipeline actually filters on.
    *
    * Scale shape (the r12 query-anchored discipline): the eval set's
    * 13-gram md5 set is eval-sized and BROADCAST; the corpus gram
    * stream semi-joins it BEFORE any aggregation, so the full-corpus
    * vocabulary never shuffles — train-side cost is one scan at any
    * corpus size, and the per-doc rollup keys on doc_id.
    */
  val decontaminateNgrams: Q = (s, dir) => {
    import s.implicits._
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
    // the same hash-selected eval spans as contaminationCheck: 25-token
    // passages lifted from ~3% of docs — each contributes 13 13-grams,
    // and its SOURCE doc must come back `drop`
    val isEval = graft.functions.KeyHash.bucket100("eval|", $"doc_id") < 3
    val evalG = base.filter(isEval && size($"toks") >= 32)
      .select(explode(wordShingles(slice($"toks", lit(8), lit(25)), 13)).as("t"))
      .select(md5($"t".cast("binary")).as("g")).distinct()
    val hits = base.filter(size($"toks") >= 13)
      .select($"doc_id", explode(wordShingles($"toks", 13)).as("t"))
      .select($"doc_id", md5($"t".cast("binary")).as("g"))
      .join(broadcast(evalG), "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
    base.select($"doc_id", size($"toks").as("n_toks"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_toks",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        when($"n_hits".isNull, "keep").otherwise("drop").as("verdict"))
      .orderBy($"doc_id")
  }

  val decontaminateNgramsSql: String = {
    val b = graft.functions.KeyHash.sqlBucket100("eval|", "doc_id")
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |ev AS (
       |  SELECT DISTINCT md5(t) AS g
       |  FROM (SELECT unnest(${sqlShingles("list_slice(toks, 8, 32)", 13)}) AS t
       |        FROM docs WHERE $b < 3 AND len(toks) >= 32)),
       |tr AS (
       |  SELECT doc_id, md5(unnest(${sqlShingles("toks", 13)})) AS g
       |  FROM docs WHERE len(toks) >= 13),
       |hits AS (
       |  SELECT doc_id, COUNT(*) AS n_hits
       |  FROM tr JOIN ev USING (g) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_toks,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  CASE WHEN h.n_hits IS NULL THEN 'keep' ELSE 'drop' END AS verdict
       |FROM docs d LEFT JOIN hits h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  val decontaminateSpansSql: String = {
    val b = graft.functions.KeyHash.sqlBucket100("eval|", "doc_id")
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |evsh AS (
       |  SELECT ${sqlShingles("list_slice(toks, 8, 32)", 5)} AS sh
       |  FROM docs WHERE $b < 3 AND len(toks) >= 32),
       |ev AS (SELECT DISTINCT md5(x) AS g
       |       FROM (SELECT unnest(sh) AS x FROM evsh)),
       |pos AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |    struct_extract(u, 'p') AS p, struct_extract(u, 'g') AS g
       |  FROM (SELECT doc_id, toks,
       |          unnest(${sqlPosGramStructs("toks", 5)}) AS u
       |        FROM docs WHERE len(toks) >= 5)),
       |hits AS (
       |  SELECT doc_id, n_toks, p,
       |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
       |  FROM pos JOIN ev USING (g)),
       |flagged AS (
       |  SELECT *, CASE WHEN prev IS NULL OR p > prev + 5
       |                 THEN 1 ELSE 0 END AS ns
       |  FROM hits),
       |spans AS (
       |  SELECT doc_id, n_toks,
       |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS UNBOUNDED PRECEDING) AS span_id, p
       |  FROM flagged),
       |merged AS (
       |  SELECT doc_id, span_id, MAX(n_toks) AS n_toks,
       |    CAST(MAX(p) + 4 - MIN(p) + 1 AS BIGINT) AS covered
       |  FROM spans GROUP BY doc_id, span_id)
       |SELECT doc_id, CAST(MAX(n_toks) AS BIGINT) AS tokens_before,
       |  COUNT(*) AS n_spans,
       |  CAST(SUM(covered) AS BIGINT) AS tokens_removed,
       |  CAST(MAX(n_toks) - SUM(covered) AS BIGINT) AS tokens_after
       |FROM merged GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared gear-window hash (one definition, two dialects): the mod-64
    * hash of the 6 code points ending at position i — the FastCDC gear
    * observation that h = (2·h' + g(c)) mod 2^k makes the low bits
    * depend only on the last k characters, so the boundary PREDICATE is
    * a pure per-position window function (engine-parallel), and only
    * the min-length chunking over the sparse candidate list is
    * sequential. g(c) = (c·2654435761) mod 8191 (Knuth multiplicative;
    * c ≤ 0x10FFFF keeps the product < 3e15 — exact in int64).
    */
  private def cdcWindowHash(idx: Int => String): String =
    (0 to 5).map { j =>
      val coef = 32 >> j
      s"(${coef} * ((CAST(${idx(5 - j)} AS BIGINT) * 2654435761) % 8191))"
    }.mkString("(", " + ", ") % 64")

  /** Content-defined chunking (the FastCDC/gear family, Xia et al.
    * 2016) + cross-document duplicate-chunk analysis — the blob-level
    * dedup primitive: boundaries follow CONTENT (the 6-point gear
    * window hash ≡ 0 mod 64, expected chunk ~64 chars, minimum 16), so
    * an insertion shifts at most the chunk it lands in and duplicate
    * passages re-align at the next content boundary — the property
    * fixed-width windows lack and the reason storage/pretraining dedup
    * pipelines chunk this way. Greedy min-length selection over the
    * candidate positions is ONE bounded per-doc fold (the Viterbi
    * aggregate discipline); the final position always closes the last
    * chunk. Output: the top-20 chunk contents by how many documents
    * share them — md5 identity, exact counts, fully integer/string.
    *
    * Scale shape: per-row candidate scan + fold (scan-local), one
    * shuffle on the chunk hash, TakeOrderedAndProject for the top-20.
    * The DuckDB oracle replays the greedy fold as a recursive CTE
    * carrying the candidate list in-row (the r13 pre-grouped-list
    * template).
    */
  val cdcChunks: Q = (s, dir) => {
    import s.implicits._
    val whS = cdcWindowHash(off => s"element_at(cp, i - $off)")
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", graft.text.TextAnalysis.normText($"text").as("norm"))
      .filter(length($"norm") >= 1)
      .select($"doc_id", $"norm", expr("codepoints(norm)").as("cp"))
    val chunks = base
      .withColumn("cands", expr(
        s"""filter(
           |  CASE WHEN size(cp) >= 7 THEN sequence(6, size(cp) - 1)
           |       ELSE CAST(array() AS ARRAY<INT>) END,
           |  i -> ($whS) = 0)""".stripMargin))
      .withColumn("bs2", expr(
        """concat(
          |  aggregate(cands,
          |    named_struct('last', 0, 'bs', CAST(array() AS ARRAY<INT>)),
          |    (acc, c) -> CASE WHEN c - acc.last >= 16
          |      THEN named_struct('last', c, 'bs', concat(acc.bs, array(c)))
          |      ELSE acc END,
          |    acc -> acc.bs),
          |  array(size(cp)))""".stripMargin))
      .select($"doc_id", explode(expr(
        """transform(bs2, (b, j) -> named_struct(
          |  'st', CASE WHEN j = 0 THEN 0 ELSE element_at(bs2, j) END,
          |  'en', b))""".stripMargin)).as("c"), $"norm")
      .select($"doc_id",
        md5(expr("substring(norm, c.st + 1, c.en - c.st)").cast("binary"))
          .as("h"),
        ($"c.en" - $"c.st").cast("long").as("clen"))
    chunks.groupBy($"h")
      .agg(max($"clen").as("clen"),
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"))
      .orderBy($"n_docs".desc, $"n_occ".desc, $"h")
      .limit(20)
  }

  val cdcChunksSql: String = {
    val whD = cdcWindowHash(off => s"cp[i - $off]")
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, ${graft.text.TextAnalysis.sqlNormText("text")} AS norm
       |  FROM documents),
       |cpd AS (
       |  SELECT doc_id, norm, ${graft.functions.Codepoints.sql("norm")} AS cp
       |  FROM base WHERE length(norm) >= 1),
       |cand AS (
       |  SELECT doc_id, norm, CAST(len(cp) AS BIGINT) AS n,
       |    list_filter(range(6, len(cp)), i -> ($whD) = 0) AS cl
       |  FROM cpd),
       |rec AS (
       |  SELECT doc_id, norm, n, cl, 0 AS i, CAST(0 AS BIGINT) AS last,
       |    []::BIGINT[] AS bs
       |  FROM cand
       |  UNION ALL
       |  SELECT doc_id, norm, n, cl, i + 1,
       |    CASE WHEN cl[i + 1] - last >= 16 THEN cl[i + 1] ELSE last END,
       |    CASE WHEN cl[i + 1] - last >= 16 THEN list_append(bs, cl[i + 1])
       |         ELSE bs END
       |  FROM rec WHERE i < len(cl)),
       |fin AS (
       |  SELECT doc_id, norm, list_append(bs, n) AS bs2
       |  FROM rec WHERE i = len(cl)),
       |pos AS (
       |  SELECT doc_id, norm, bs2,
       |    unnest(range(1, len(bs2) + 1)) AS j
       |  FROM fin),
       |hs AS (
       |  SELECT doc_id,
       |    md5(substr(norm,
       |      CAST(CASE WHEN j = 1 THEN 0 ELSE bs2[j - 1] END + 1 AS BIGINT),
       |      CAST(bs2[j] - CASE WHEN j = 1 THEN 0 ELSE bs2[j - 1] END
       |        AS BIGINT))) AS h,
       |    CAST(bs2[j] - CASE WHEN j = 1 THEN 0 ELSE bs2[j - 1] END
       |      AS BIGINT) AS clen
       |  FROM pos)
       |SELECT h, MAX(clen) AS clen,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_occ
       |FROM hs GROUP BY h
       |ORDER BY n_docs DESC, n_occ DESC, h LIMIT 20""".stripMargin
  }

  /** Exact substring-SPAN dedup — the suffix-array-class primitive of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): find and MAP duplicated ≥k-token passages across
    * document pairs, reporting (doc_a, doc_b, start_a, start_b,
    * span_tokens) for each maximal shared run. Doc-level MinHash misses
    * partially-overlapping passages and [[exactSubstring]] only counts
    * covered tokens per doc — this gate recovers the pairwise span map
    * itself, including planted passages copied at SHIFTED offsets (the
    * case fixed-window fingerprints break on).
    *
    * Spark-first equivalent of the suffix-array scan: tokenize once →
    * positional k-gram md5 keys in the scan ([[NearDup.posGramKeys]]) →
    * one shuffle groups gram occurrences; grams kept only when shared
    * by ≥2 docs AND total occurrences ≤ [[SpanOccCap]] (stopword-like
    * grams are pure pair-fanout: a gram in m docs is m² pairs, so the
    * cap bounds candidates at C(cap,2) per gram — the hot-band-cap
    * discipline); the self-join on the gram key emits matched position
    * pairs; maximal spans are gaps-and-islands per (pair, diagonal
    * pa−pb) — consecutive k-gram hits along a diagonal ARE a longer
    * shared substring. Global top-100 by span length rides
    * orderBy+limit → TakeOrderedAndProject. Every shuffle is keyed
    * (gram, then pair+diag); nothing is all-pairs, nothing lands a
    * corpus on one reducer.
    */
  private val SpanK = 8
  private val SpanOccCap = 16

  val substringSpans: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // persisted (r16): the planted-variant branch AND the union both
    // read it — unpersisted, the normText+split tokenize pass ran twice
    // per rep (the phraseSearch finding, same shape)
    val base = graft.CacheTracker.persistTracked(
      Tables(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
        .filter(size($"toks") >= 15))
    // planted plagiarism: a hash-selected ~10% of long docs each spawn a
    // +50000 variant carrying a 16-27-token passage lifted from the
    // original at a SHIFTED offset (copied span starts at position 7 in
    // the source, 6 in the variant), wrapped in tokens the original also
    // has elsewhere — known recoverable span structure on top of the
    // corpus's organic 8-gram repeats
    val lifted = base
      .filter(graft.functions.KeyHash.bucket100("span|", $"doc_id") < 10 &&
        size($"toks") >= 40)
      .select(($"doc_id" + 50000).as("doc_id"),
        concat(slice($"toks", lit(31), lit(6)),
          slice($"toks", lit(8), (lit(16) + ($"doc_id" % 12)).cast("int")),
          slice($"toks", lit(37), lit(4))).as("toks"))
    spanMap(base.unionByName(lifted), SpanK, SpanOccCap)
      .orderBy($"span_tokens".desc, $"doc_a", $"doc_b", $"start_a", $"start_b")
      .limit(100)
  }

  /** The span-map core over any (doc_id, toks) frame — package-private
    * so ScaleStressSpec can drive it on a 50k-doc synthetic corpus:
    * positional k-gram keys → occurrence-capped gram groups → pair join
    * → maximal runs per (pair, diagonal). Returns (doc_a, doc_b,
    * start_a, start_b, span_tokens), unordered.
    */
  private[graft] def spanMap(corpus: org.apache.spark.sql.DataFrame,
      k: Int, occCap: Int): org.apache.spark.sql.DataFrame = {
    import corpus.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val grams = corpus
      .select($"doc_id", posexplode(posGramKeys($"toks", k)))
      .toDF("doc_id", "p", "g")
    // "shared by ≥2 docs" needs no distinct count — min(doc) ≠ max(doc)
    // is the same predicate as a cheap single-pass aggregate, avoiding
    // the distinct-aggregation Expand (×2) on the full gram stream (r16)
    val kept = grams.groupBy($"g")
      .agg(count(lit(1)).as("occ"),
        min($"doc_id").as("d0"), max($"doc_id").as("d1"))
      .filter($"d0" =!= $"d1" && $"occ" <= occCap)
      .select($"g")
    // the pair join reads hits TWICE — persist the (small, capped) table
    val hits = graft.CacheTracker.persistTracked(grams.join(kept, "g"))
    val pairs = hits.as("a").join(hits.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.p").cast("long").as("pa"), col("b.p").cast("long").as("pb"))
    val w = Window.partitionBy($"doc_a", $"doc_b", $"diag").orderBy($"pa")
    pairs.withColumn("diag", $"pa" - $"pb")
      .withColumn("island", $"pa" - row_number().over(w).cast("long"))
      .groupBy($"doc_a", $"doc_b", $"diag", $"island")
      .agg(min($"pa").as("start_a"), min($"pb").as("start_b"),
        (max($"pa") - min($"pa") + k).cast("long").as("span_tokens"))
      .select($"doc_a", $"doc_b", $"start_a", $"start_b", $"span_tokens")
  }

  val substringSpansSql: String = {
    val b = graft.functions.KeyHash.sqlBucket100("span|", "doc_id")
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |lifted AS (
       |  SELECT doc_id + 50000 AS doc_id,
       |    list_cat(list_cat(
       |      list_slice(toks, 31, 36),
       |      list_slice(toks, 8, 23 + doc_id % 12)),
       |      list_slice(toks, 37, 40)) AS toks
       |  FROM base WHERE $b < 10 AND len(toks) >= 40),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL SELECT doc_id, toks FROM lifted),
       |gr AS (
       |  SELECT doc_id, unnest(${sqlPosGramStructs("toks", SpanK)}) AS u
       |  FROM corpus),
       |grams AS MATERIALIZED (
       |  SELECT doc_id, CAST(struct_extract(u, 'p') AS BIGINT) AS p,
       |    struct_extract(u, 'g') AS g
       |  FROM gr),
       |kept AS (
       |  SELECT g FROM grams GROUP BY g
       |  HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= $SpanOccCap),
       |hits AS MATERIALIZED (
       |  SELECT doc_id, p, g FROM grams JOIN kept USING (g)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
       |  FROM hits a JOIN hits b ON a.g = b.g AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
       |    pa - CAST(row_number() OVER (
       |      PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS BIGINT)
       |      AS island
       |  FROM pairs)
       |SELECT doc_a, doc_b, CAST(MIN(pa) AS BIGINT) AS start_a,
       |  CAST(MIN(pb) AS BIGINT) AS start_b,
       |  CAST(MAX(pa) - MIN(pa) + $SpanK AS BIGINT) AS span_tokens
       |FROM isl GROUP BY doc_a, doc_b, diag, island
       |ORDER BY span_tokens DESC, doc_a, doc_b, start_a, start_b
       |LIMIT 100""".stripMargin
  }

  /** Candidate-pair near-dup verification by EXACT edit distance — the
    * verdict layer a production dedup pipeline stacks on top of its LSH
    * candidate generator when Jaccard over shingle SETS is too coarse
    * (token order, small in-place edits): MinHash bands propose, the
    * classic Levenshtein DP disposes. Corpus = docs ≥ 15 tokens plus a
    * +60000 micro-edit variant of each (token 7 replaced by token 12,
    * token 10 deleted — a char-level distance of a few token lengths,
    * tiny relative to the document), so the planted pairs sit far under
    * the 10% relative-distance verdict while organic candidates mostly
    * don't.
    *
    * Scale shape: candidates ride the shared banded-LSH machinery
    * ([[NearDup.bandRows]]/[[NearDup.lshCandidates]] with the hot-band
    * cap — never all-pairs); the quadratic-cost DP runs only on
    * candidate pairs that ALSO pass the free length screen
    * (|len_a − len_b| is a lower bound on the distance, so the screen
    * rejects nothing the verdict would keep), and only over
    * length-capped ASCII-normalized text (240 chars) so per-pair cost
    * is bounded. Both engines run the same classic DP (Spark
    * `levenshtein`, DuckDB `levenshtein`) on pure-ASCII input — chars
    * == bytes == code points, no Unicode divergence surface.
    */
  val editDistance: Q = (s, dir) => {
    import s.implicits._
    assertVariantIdHeadroom(s, dir)
    val base = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", TextAnalysis.tokensOnce($"text").as("toks"))
      .filter(size($"toks") >= 15)
    val corpus = base.select(explode(array(
        struct($"doc_id", $"toks"),
        struct(($"doc_id" + 60000).as("doc_id"),
          concat(slice($"toks", 1, 6), slice($"toks", 12, 1),
            slice($"toks", 8, 2),
            slice($"toks", lit(11), greatest(size($"toks") - 10, lit(1))))
            .as("toks")))).as("r"))
      .select($"r.doc_id", $"r.toks")
    // one persisted frame carries BOTH the shingles (band keys) and the
    // capped ASCII text (verdict input): tokenize runs once per doc
    val withTxt = graft.CacheTracker.persistTracked(corpus.select(
      $"doc_id", wordShingles($"toks", 3).as("sh"),
      substring(regexp_replace(concat_ws(" ", $"toks"), "[^a-z0-9 ]", ""),
        1, 240).as("txt")))
    val bands = graft.CacheTracker.persistTracked(bandRows(
      withTxt.select($"doc_id", posexplode(expr(s"minhash_md5(sh, $K)"))),
      "doc_id", R))
    lshCandidates(bands, "doc_id")
      .join(withTxt.select($"doc_id".as("doc_a"), $"txt".as("ta")), "doc_a")
      .join(withTxt.select($"doc_id".as("doc_b"), $"txt".as("tb")), "doc_b")
      .select($"doc_a", $"doc_b",
        length($"ta").as("len_a"), length($"tb").as("len_b"),
        $"ta", $"tb")
      // free screen BEFORE the DP: |len gap| alone already exceeds the
      // relative threshold for most organic candidates
      .filter(abs($"len_a" - $"len_b") * 10 <= greatest($"len_a", $"len_b"))
      .select($"doc_a", $"doc_b", $"len_a", $"len_b",
        levenshtein($"ta", $"tb").as("edit_dist"))
      .withColumn("verdict",
        when($"edit_dist" * 10 <= greatest($"len_a", $"len_b"), "dup")
          .otherwise("distinct"))
      .orderBy($"doc_a", $"doc_b")
  }

  val editDistanceSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, ${TextAnalysis.sqlTokens("text")} AS toks FROM documents),
       |base AS (SELECT * FROM docs WHERE len(toks) >= 15),
       |corpus AS (
       |  SELECT doc_id, toks FROM base
       |  UNION ALL
       |  SELECT doc_id + 60000,
       |    list_cat(list_cat(list_cat(
       |      list_slice(toks, 1, 6), list_slice(toks, 12, 12)),
       |      list_slice(toks, 8, 9)),
       |      list_slice(toks, 11, GREATEST(len(toks), 11))) AS toks
       |  FROM base),
       |withtxt AS MATERIALIZED (
       |  SELECT doc_id, ${sqlShingles("toks")} AS sh,
       |    substr(regexp_replace(array_to_string(toks, ' '),
       |      '[^a-z0-9 ]', '', 'g'), 1, 240) AS txt
       |  FROM corpus),
       |sig0 AS (
       |  SELECT doc_id, ${sqlMinhash("sh", K)} AS mh0 FROM withtxt),
       |sig AS (
       |  SELECT doc_id, ${sqlBandedKeys("mh0", Bands, R)} AS mh FROM sig0),
       |bands AS (
       |  SELECT doc_id, struct_extract(u, 'band') AS band,
       |    struct_extract(u, 'mh') AS mh
       |  FROM (SELECT doc_id, unnest(list_transform(range(0, $Bands),
       |        i -> {'band': i, 'mh': mh[i + 1]})) AS u FROM sig)),
       |${sqlCappedCand("doc_id")},
       |screened AS (
       |  SELECT doc_a, doc_b,
       |    length(ta.txt)::INT AS len_a, length(tb.txt)::INT AS len_b,
       |    ta.txt AS sa, tb.txt AS sb
       |  FROM cand JOIN withtxt ta ON cand.doc_a = ta.doc_id
       |            JOIN withtxt tb ON cand.doc_b = tb.doc_id
       |  WHERE abs(length(ta.txt) - length(tb.txt)) * 10
       |    <= GREATEST(length(ta.txt), length(tb.txt))),
       |dists AS (
       |  SELECT doc_a, doc_b, len_a, len_b,
       |    levenshtein(sa, sb)::INT AS edit_dist
       |  FROM screened)
       |SELECT doc_a, doc_b, len_a, len_b, edit_dist,
       |  CASE WHEN edit_dist * 10 <= GREATEST(len_a, len_b)
       |       THEN 'dup' ELSE 'distinct' END AS verdict
       |FROM dists
       |ORDER BY doc_a, doc_b""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "dedup_edit_distance" -> (editDistance, Some(editDistanceSql)),
    "dedup_substring_spans" -> (substringSpans, Some(substringSpansSql)),
    "dedup_cdc_chunks" -> (cdcChunks, Some(cdcChunksSql)),
    "curate_decontaminate_spans" ->
      (decontaminateSpans, Some(decontaminateSpansSql)),
    "curate_decontaminate_ngrams" ->
      (decontaminateNgrams, Some(decontaminateNgramsSql)),
    "dedup_shingle_containment" ->
      (shingleContainment, Some(shingleContainmentSql)),
    "dedup_url_canonical" -> (urlCanonical, Some(urlCanonicalSql)),
    "dedup_exact_substring" -> (exactSubstring, Some(exactSubstringSql)),
    "dedup_lsh_hot_band" -> (lshHotBand, Some(lshHotBandSql)),
    "dedup_contamination_check" -> (contaminationCheck, Some(contaminationCheckSql)),
    "dedup_minhash_lsh" -> (minhashLsh, Some(minhashLshSql)),
    "dedup_incremental_ingest" -> (incrementalIngest, Some(incrementalIngestSql)),
    "dedup_minhash_estimate" -> (minhashEstimate, Some(minhashEstimateSql)),
    "dedup_simhash_sig" -> (simhashSig, Some(simhashSigSql)),
    "dedup_ngram_jaccard" -> (ngramJaccard, Some(ngramJaccardSql)),
    "dedup_cluster_canonical" -> (dedupClusters, Some(dedupClustersSql)),
    "dedup_keep_best" -> (keepBest, Some(keepBestSql)),
    "curate_leakage_safe_split" -> (leakageSafeSplit, Some(leakageSafeSplitSql))
  )
}
