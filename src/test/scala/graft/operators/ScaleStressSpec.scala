package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale-stress for the three iterative loops (VERDICT r5 #6): the
  * localCheckpoint-per-generation discipline is argued from measurements
  * at gate scale; this suite actually runs each loop on a synthesized
  * corpus ~10× the largest driver corpus (sf0.1: cluster graph ≈ 12k
  * nodes, documents = 5k) and pins correctness plus round counts, with
  * wall times printed for the SURVEY §8 record. The graphs are
  * deterministic formulas, not data files — the loops' cost is driven by
  * node/edge count and iteration structure, not by text content.
  */
class ScaleStressSpec extends SparkSpec {
  import spark.implicits._

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("connected components: 120k nodes in diameter-31 chains, log-bounded rounds") {
    val n = 120000L
    val block = 32L
    // chains of 32: i — i+1 unless i closes a block. 3750 components,
    // diameter 31 — adversarial for label propagation (a plain
    // propagate needs 31 rounds; pointer jumping must stay ~log2)
    val edges = spark.range(n)
      .filter($"id" % block =!= (block - 1) && $"id" + 1 < n)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
      .localCheckpoint(true)
    val ((labels, rounds), secs) = timed {
      val (l, r) = ConnectedComponents.runCounted(edges, "src", "dst")
      (l.localCheckpoint(true), r)
    }
    val bad = labels
      .filter($"comp" =!= expr(s"(node div $block) * $block"))
      .count()
    val total = labels.count()
    assert(total == n, s"every node labeled: got $total")
    assert(bad == 0, s"$bad nodes got a wrong component label")
    assert(rounds <= 10,
      s"diameter-31 chains must converge in ~log2 rounds, took $rounds")
    info(f"CC 120k nodes / ${edges.count()} edges: $rounds rounds, $secs%.1f s")
  }

  test("pagerank: 50k-node synthetic link graph, 10 fixed-point iterations") {
    val n = 50000L
    val docs = spark.range(n).select($"id".as("doc_id"))
      .localCheckpoint(true)
    val edges = docs.select($"doc_id".as("src"), explode(array(
        ($"doc_id" * 7 + 1) % n, ($"doc_id" * 13 + 2) % n,
        ($"doc_id" * 29 + 3) % n)).as("dst"))
      .filter($"src" =!= $"dst").distinct()
    val (ranks, secs) = timed {
      graft.pipeline.CurationQueries
        .pagerankLoop(docs, edges, n, iters = 10)
        .localCheckpoint(true)
    }
    val unit = 1000000000000L / n
    val stats = ranks.agg(count(lit(1)), min($"r"), sum($"r")).head
    assert(stats.getLong(0) == n, "one rank per node")
    // every node holds at least the teleport mass, and total mass stays
    // within the fixed-point truncation loss of n·unit (each of the 10
    // rounds truncates < 1 unit-fraction per node at two `div` sites)
    assert(stats.getLong(1) >= 15L * unit / 100L, "teleport floor")
    val mass = stats.getLong(2).toDouble / (n * unit)
    assert(mass > 0.85 && mass <= 1.0, s"rank mass drifted to $mass")
    info(f"PageRank 50k nodes / ${edges.count()} edges, 10 iters: $secs%.1f s")
  }

  test("exact-substring coverage: 10x replicated corpus saturates to full coverage") {
    // 10 shifted replicas of every sf0.1 doc (50k docs, ~2.7M windows):
    // every window now appears in >= 10 docs, so the dup set is ALL
    // grams and every doc must come back EXACTLY fully covered — a
    // sharp invariant that exercises the gram shuffle and the interval
    // telescope at 10x gate scale (any window merge off-by-one or
    // double-count breaks dup_frac == 1.0 somewhere in 50k docs).
    val docs = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select($"doc_id", graft.text.TextAnalysis.tokens($"text").as("toks"))
      .filter(size($"toks") >= 15)
    val corpus = docs.crossJoin(spark.range(10))
      .select(($"doc_id" + $"id" * 1000000).as("doc_id"), $"toks")
      .localCheckpoint(true)
    val n = corpus.count()
    val (bad, secs) = timed {
      graft.text.DedupQueries.substringCoverage(corpus, 8)
        .filter($"dup_frac" =!= 1.0).count()
    }
    assert(bad == 0, s"$bad of $n replicated docs not fully covered")
    info(f"exact-substring coverage on $n docs: $secs%.1f s")
  }

  test("substring spans: 50k docs, 2000 planted shifted-offset passages") {
    // 50k synthetic 40-token docs; tokens are md5-derived (NEVER an
    // affine ramp — the r7 sawtooth correlation trap) so organic 8-gram
    // collisions are absent, and docs j < 2000 share a 20-token passage
    // with doc j+25000 at SHIFTED offsets (11 vs 5) — the case
    // doc-level MinHash misses and CDC only realigns, but the span map
    // must recover exactly: one span per pair, diagonal 6, length 20,
    // nothing else. ~1.65M positional grams exercise the gram shuffle,
    // the cap filter, and the diagonal islands at 10x gate scale.
    val docs = spark.range(50000).select($"id".as("doc_id"),
      expr("""transform(sequence(0, 39), p ->
        CASE WHEN id < 2000 AND p BETWEEN 11 AND 30
               THEN concat('s', id, '_', p - 11)
             WHEN id >= 25000 AND id < 27000 AND p BETWEEN 5 AND 24
               THEN concat('s', id - 25000, '_', p - 5)
             ELSE substr(md5(concat(id, '|', p)), 1, 8) END)""").as("toks"))
      .localCheckpoint(true)
    val (spans, secs) = timed {
      val r = graft.text.DedupQueries.spanMap(docs, 8, 16).collect()
      graft.CacheTracker.releaseAll()
      r
    }
    assert(spans.length == 2000, s"expected exactly 2000 spans, got ${spans.length}")
    spans.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(b == a + 25000 && a < 2000, s"unexpected pair ($a, $b)")
      assert(r.getLong(2) == 11 && r.getLong(3) == 5 && r.getLong(4) == 20,
        s"span for pair ($a, $b) mis-mapped: $r")
    }
    info(f"substring span map on 50k docs: $secs%.1f s")
  }

  test("semantic dedup: 5x tiled vectors, cluster-bounded screen at 10k corpus") {
    import graft.vector.VectorOps
    // 5 tiles of every sf0.1 embedding (10k vectors), tile j shifted by
    // +0.05*j on dim 0: adjacent tiles sit at cos >= 0.98, so every
    // copy (j >= 1) must drop onto a lower tile unless cell-boundary
    // leakage separates it from ALL of its 4 partners (rarer than the
    // single-twin gate's leakage by construction). The screen runs
    // ~5M cell-scoped dot_double pairs — the cost shape the gate
    // argues scales, actually executed at 5x its corpus.
    val (centroids, _, _) =
      graft.vector.SimilarityQueries.ivfStructure(spark, "/root/testdata/sf0.1")
    val base = graft.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val corpus = base.crossJoin(spark.range(5).select($"id".as("j")))
      .select(($"vec_id" + $"j" * 10000).as("vec_id"),
        transform($"v", (x, d) =>
          when(d === 0, x + $"j".cast("double") * 0.05).otherwise(x)).as("v"))
      .withColumn("fn", sqrt(VectorOps.dotFast($"v", $"v")))
      .withColumn("xn", VectorOps.normExact($"v"))
      .localCheckpoint(true)
    val (out, secs) = timed {
      graft.vector.SimilarityQueries.semanticDedupOn(corpus, centroids)
        .localCheckpoint(true)
    }
    val n = out.count()
    assert(n == 10000, s"one verdict per vector, got $n")
    val copies = out.filter($"vec_id" >= 10000)
    val droppedCopies = copies.filter($"kept" === 0).count()
    assert(droppedCopies >= (copies.count() * 95) / 100,
      s"only $droppedCopies of ${copies.count()} tiled copies dropped")
    assert(out.filter($"vec_id" < 10000 && $"kept" === 0).count() == 0,
      "no original may be dropped (organic pairs top out near cos 0.5)")
    info(f"semantic dedup on $n vectors: $secs%.1f s")
  }

  test("semantic dedup hot cell: 20k-member planted cell stays n*cap-linear") {
    import graft.vector.{SimilarityQueries, VectorOps}
    import graft.functions.KeyHash
    // 10x the hot gate's skew: 20k members jittered around 2*e0 (every
    // odd id a +0.001 twin of its even partner) + the 2k originals —
    // the dominant cell swallows most of the corpus, the regime where
    // the old cell-scoped all-pairs screen built |cell|^2/2 ~ 150M+
    // pairs. The rank window must hold candidates under n*cap and the
    // twins must still drop (they are rank-adjacent by construction).
    val cap = 64
    val (centroids, _, _) =
      SimilarityQueries.ivfStructure(spark, "/root/testdata/sf0.1")
    val e0 = graft.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .filter($"vec_id" === 0)
      .select(transform($"embedding", x => x.cast("double")).as("e0"))
    val hot = spark.range(20000).select($"id".as("src"))
      .crossJoin(broadcast(e0))
      .select(($"src" + 1000000).as("vec_id"),
        transform($"e0", (x, d0) => {
          val d = d0 + 1
          val base = $"src" - ($"src" % 2)
          x * lit(2.0) +
            (KeyHash.bucket("semjit", base * 1000 + d, 997)
              .cast("double") - lit(498.0)) / lit(498.0) * lit(0.3) +
            when(d === 2, ($"src" % 2).cast("double") * lit(0.001))
              .otherwise(lit(0.0))
        }).as("v"))
    val corpus = graft.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .unionByName(hot)
      .withColumn("fn", sqrt(VectorOps.dotFast($"v", $"v")))
      .withColumn("xn", VectorOps.normExact($"v"))
      .localCheckpoint(true)
    val n = corpus.count()
    val ranked = SimilarityQueries.semRanked(corpus, centroids)
      .localCheckpoint(true)
    val modal = ranked.groupBy($"cell").count()
      .agg(max($"count")).head.getLong(0)
    assert(modal > 10000L,
      s"planted skew must concentrate (modal cell $modal of $n)")
    val cand = SimilarityQueries.windowCandidates(ranked, cap).count()
    assert(cand <= n * cap,
      s"window candidates $cand exceed the n*cap bound ${n * cap}")
    assert(cand < modal * modal / 20,
      s"window candidates $cand not meaningfully under the " +
        s"uncapped quadratic ~${modal * modal / 2}")
    val (out, secs) = timed {
      SimilarityQueries.semanticDedupOn(corpus, centroids, cap)
        .localCheckpoint(true)
    }
    assert(out.count() == n, "one verdict per member")
    val twins = out.filter($"vec_id" >= 1000000L && $"vec_id" % 2 === 1)
    val onPartner = twins.filter($"kept" === 0 && $"canon" === $"vec_id" - 1)
    // cell-BOUNDARY leakage (a twin pair straddling an argmin knife
    // edge) is the same class the main gate tolerates at 10%; measured
    // here: 9999/10000 — the window itself never separates a twin
    assert(onPartner.count() >= twins.count() - 5,
      s"${onPartner.count()} of ${twins.count()} planted twins dropped " +
        "onto their even partner — the window must not separate twins")
    graft.CacheTracker.releaseAll()
    info(f"hot-cell semantic dedup on $n vectors (modal cell $modal, " +
      f"$cand window candidates): $secs%.1f s")
  }

  test("k-core h-index loop: 50k nodes + a planted 30-clique, fixpoint by 10 rounds") {
    // the pagerank-scale graph (3-out, ~150k edges, near-regular core
    // numbers) plus a 30-node clique planted on nodes 0..29: clique
    // coreness must come out >= 29 exactly there, everything else far
    // below — a sharp detection invariant — and 12 rounds must equal
    // 10 (the production unroll's fixpoint margin holds at 10x scale).
    val n = 50000L
    val docs = spark.range(n).select($"id".as("doc_id")).localCheckpoint(true)
    val base = docs.select($"doc_id".as("src"), explode(array(
        ($"doc_id" * 7 + 1) % n, ($"doc_id" * 13 + 2) % n,
        ($"doc_id" * 29 + 3) % n)).as("dst"))
      .filter($"src" =!= $"dst")
    val clique = spark.range(30).select($"id".as("src"))
      .crossJoin(spark.range(30).select($"id".as("dst")))
      .filter($"src" < $"dst")
    val und = base.unionByName(clique)
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
    val adj = und.select($"a".as("src"), $"b".as("dst"))
      .unionByName(und.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint(true)
    import graft.pipeline.CurationQueries
    val (c10, secs) = timed {
      CurationQueries.kcoreLoop(docs, adj, 10).localCheckpoint(true)
    }
    assert(c10.count() == n, "every node gets a core number")
    val cliqueMin = c10.filter($"node" < 30).agg(min($"c")).head.getLong(0)
    val restMax = c10.filter($"node" >= 30).agg(max($"c")).head.getLong(0)
    assert(cliqueMin >= 29, s"planted clique coreness $cliqueMin < 29")
    assert(restMax < 29, s"non-clique coreness reached $restMax — the " +
      "clique invariant lost its margin")
    val c12 = CurationQueries.kcoreLoop(docs, adj, 12)
    assert(c10.join(c12.withColumnRenamed("c", "c2"), "node")
        .filter($"c" =!= $"c2").count() == 0,
      "rounds 11-12 changed estimates — fixpoint margin broken at 50k")
    info(f"k-core on $n nodes / ${und.count()} edges: $secs%.1f s")
  }

  test("label propagation absorbs a planted 30-clique into one community at 50k nodes") {
    // same 50k 3-out graph + clique as the k-core stress: LPA's
    // min-label tie rule must pull every clique member onto one label
    // within the production 5 rounds (29 shared-label cliquemates
    // always outvote <= ~6 external neighbors), while the loop itself
    // runs the gate's exact code path at 10x gate scale
    val n = 50000L
    val docs = spark.range(n).select($"id".as("doc_id")).localCheckpoint(true)
    val base = docs.select($"doc_id".as("src"), explode(array(
        ($"doc_id" * 7 + 1) % n, ($"doc_id" * 13 + 2) % n,
        ($"doc_id" * 29 + 3) % n)).as("dst"))
      .filter($"src" =!= $"dst")
    val clique = spark.range(30).select($"id".as("src"))
      .crossJoin(spark.range(30).select($"id".as("dst")))
      .filter($"src" < $"dst")
    val und = base.unionByName(clique)
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
    val adj = und.select($"a".as("src"), $"b".as("dst"))
      .unionByName(und.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint(true)
    import graft.pipeline.CurationQueries
    val (lab, secs) = timed {
      CurationQueries.lpaLoop(docs, adj, 5).localCheckpoint(true)
    }
    assert(lab.count() == n, "every node keeps a label")
    val cliqueLabels = lab.filter($"node" < 30)
      .select($"lab").distinct().count()
    assert(cliqueLabels == 1,
      s"planted clique split across $cliqueLabels communities")
    info(f"LPA on $n nodes: $secs%.1f s")
  }

  test("bfs relaxation at 50k nodes: expander fixpoint holds, far chain stays INF") {
    // 50k 3-out expander (diameter ~11) plus a 40-node path hung off
    // node 7: chain nodes sit at dist(7)+k, so the tail lies beyond the
    // production 16-round budget — it must report INF (unreached), not
    // a partial distance, while the expander part must be at its exact
    // fixpoint (rounds 16 == rounds 24 there)
    val n = 50000L
    val docs0 = spark.range(n).select($"id".as("doc_id"))
    val chainIds = spark.range(40).select(($"id" + n).as("doc_id"))
    val docs = docs0.unionByName(chainIds).localCheckpoint(true)
    val base = docs0.select($"doc_id".as("src"), explode(array(
        ($"doc_id" * 7 + 1) % n, ($"doc_id" * 13 + 2) % n,
        ($"doc_id" * 29 + 3) % n)).as("dst"))
      .filter($"src" =!= $"dst")
    val chain = spark.range(40).select(
        when($"id" === 0, 7L).otherwise($"id" + n - 1).as("src"),
        ($"id" + n).as("dst"))
    val und = base.unionByName(chain)
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
    val adj = und.select($"a".as("src"), $"b".as("dst"))
      .unionByName(und.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint(true)
    import graft.pipeline.CurationQueries
    val (d16, secs) = timed {
      CurationQueries.bfsLoop(docs, adj, 0L, 16).localCheckpoint(true)
    }
    val inf = 999999L
    val tailInf = d16.filter($"node" >= n + 30 && $"d" === inf).count()
    assert(tailInf == 10L,
      s"chain tail beyond the round budget must be INF (got $tailInf of 10)")
    val d24 = CurationQueries.bfsLoop(docs, adj, 0L, 24)
    val coreChanged = d16.filter($"node" < n)
      .join(d24.withColumnRenamed("d", "d2"), "node")
      .filter($"d" =!= $"d2").count()
    assert(coreChanged == 0,
      "expander distances changed after round 16 — fixpoint margin broken")
    info(f"BFS on ${n + 40} nodes: $secs%.1f s")
  }

  test("hamming tier at 10x corpus: every identical-signature copy lands in the top-10 at dist 0") {
    import graft.vector.SimilarityQueries
    // 10 identity tiles of the sf0.1 embeddings (20k vectors): copies
    // share the embedding, hence the 64-bit sign signature, hence sit
    // at Hamming distance 0 from their original. For each query, its 9
    // copies MUST all appear in the top-10 at dist 0 — any packing,
    // XOR/popcount, or tie-ordering bug at 10x scale breaks the set.
    val base = graft.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select($"vec_id", $"embedding")
    // precondition for the sharp assert: no organic signature collision
    val sigs0 = SimilarityQueries.hammingPackedOn(base).localCheckpoint(true)
    val nBase = sigs0.count()
    val nSigs = sigs0.select($"h1", $"h2").distinct().count()
    assert(nSigs == nBase, s"organic signature collision ($nSigs of $nBase)")
    val corpus = base.crossJoin(spark.range(10).select($"id".as("j")))
      .select(($"vec_id" + $"j" * 10000).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val (top, secs) = timed {
      SimilarityQueries.hammingRankedOn(SimilarityQueries.hammingPackedOn(corpus))
        .localCheckpoint(true)
    }
    val copiesAtZero = top.filter($"dist" === 0 &&
        $"vec_id" % 10000 === $"q_id" && $"vec_id" =!= $"q_id")
      .groupBy($"q_id").agg(count(lit(1)).as("n"))
      .filter($"n" === 9).count()
    assert(copiesAtZero == 5,
      "each of the 5 queries must see all 9 of its copies at dist 0 in the top-10")
    assert(top.count() == 50, "exactly 10 ranked rows per query")
    info(f"hamming top-10 over ${nBase * 10} packed signatures: $secs%.1f s")
  }

  test("screened argmin equals the all-exact argmin on a 10k tiled corpus") {
    import graft.vector.{SimilarityQueries, VectorOps}
    // the ScreenedArgminSpec pin at 10x gate scale: 5 tiles of the
    // sf0.1 embeddings against the production IVF centroids — every
    // (cell, score) from the double-screened path must equal the
    // all-exact min(struct) formulation, including knife-edge vectors
    // near cell boundaries that only a larger corpus produces.
    val (centroids, _, _) =
      SimilarityQueries.ivfStructure(spark, "/root/testdata/sf0.1")
    val base = graft.Tables(spark, "/root/testdata/sf0.1", "embeddings")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val corpus = base.crossJoin(spark.range(5).select($"id".as("j")))
      .select(($"vec_id" + $"j" * 10000).as("vec_id"),
        transform($"v", (x, d) =>
          when(d === 0, x + $"j".cast("double") * 0.05).otherwise(x)).as("v"))
      .withColumn("fn", sqrt(VectorOps.dotFast($"v", $"v")))
      .withColumn("xn", VectorOps.normExact($"v"))
      .localCheckpoint(true)
    val n = corpus.count()
    val (screened, secs) = timed {
      SimilarityQueries.semRanked(corpus, centroids)
        .select($"vec_id", $"cell", $"score").localCheckpoint(true)
    }
    val brute = corpus.crossJoin(broadcast(centroids))
      .select($"vec_id", $"c_label",
        ($"cc" - lit(2.0) * VectorOps.dotExact($"v", $"cv")).as("score"))
      .groupBy($"vec_id")
      .agg(min(struct($"score", $"c_label")).as("b"))
      .select($"vec_id", $"b.c_label".as("cell2"), $"b.score".as("score2"))
    val diff = screened.join(brute, "vec_id")
      .filter($"cell" =!= $"cell2" || $"score" =!= $"score2").count()
    assert(screened.count() == n, "one cell per vector")
    assert(diff == 0, s"$diff of $n screened argmins diverge from all-exact")
    graft.CacheTracker.releaseAll()
    info(f"screened argmin on $n vectors: $secs%.1f s")
  }

  test("bm25 at 10x replication: copy groups score identically, ties break by doc_id") {
    // 10 copies of every sf0.1 document (50k docs): tf/dl are per-copy
    // identical while df, N and total length scale uniformly, so each
    // copy group must land CONTIGUOUSLY in the ranking with one shared
    // score — any partial-agg order sensitivity in the across-term sum
    // or tie-handling drift shows up as a split group. Runs the exact
    // gate plan (persisted tokenize-once, TakeOrderedAndProject).
    val docs1 = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select($"doc_id", $"text")
    val docs10 = docs1.crossJoin(spark.range(10).select($"id".as("j")))
      .select(($"doc_id" + $"j" * 10000000L).as("doc_id"), $"text")
      .localCheckpoint(true)
    val nDocs = docs10.count()
    val (rows, secs) = timed {
      graft.text.TextQueries.bm25On(docs10)
        .select($"doc_id", $"score", $"rank").collect().toSeq
    }
    graft.CacheTracker.releaseAll()
    assert(rows.size == 20, s"top-20 expected, got ${rows.size}")
    val groups = rows.grouped(10).toSeq
    groups.foreach { g =>
      assert(g.map(_.getDouble(1)).distinct.size == 1,
        s"copy group split across scores: $g")
      assert(g.map(_.getLong(0) % 10000000L).distinct.size == 1,
        s"copy group mixes base docs: $g")
      assert(g.map(_.getLong(0)) == g.map(_.getLong(0)).sorted,
        "ties must break by ascending doc_id")
    }
    assert(groups(0).head.getDouble(1) > groups(1).head.getDouble(1),
      "distinct base docs may not tie at this corpus")
    info(f"bm25 over $nDocs docs: $secs%.1f s")
  }

  test("skew report top-3 is exact on a 1M-row corpus with 900k distinct keys") {
    import graft.pipeline.CurationQueries
    // three planted hot keys over ~900k singletons: the TopK path must
    // return exactly the planted keys with exact counts and the pure
    // int64 ppm/skew derivations — at a key cardinality (9e5) where the
    // old single-reducer rank window was the 100x bottleneck.
    val n = 1000000L
    val keys = spark.range(n).select(
      when($"id" < 50000L, lit("h1"))
        .when($"id" < 80000L, lit("h2"))
        .when($"id" < 100000L, lit("h3"))
        .otherwise(concat(lit("z"), $"id")).as("k"))
    val (rows, secs) = timed {
      CurationQueries.skewKeyReport("stress", keys)
        .orderBy($"rk")
        .select($"rk", $"key", $"cnt", $"n_rows", $"n_keys",
          $"cnt_ppm", $"skew_x1000")
        .collect().toSeq.map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    }
    graft.CacheTracker.releaseAll()
    val nKeys = 900000L + 3L
    def row(rk: Int, k: String, cnt: Long) =
      (rk, k, cnt, n, nKeys, cnt * 1000000L / n, cnt * nKeys * 1000L / n)
    assert(rows == Seq(row(1, "h1", 50000L), row(2, "h2", 30000L),
      row(3, "h3", 20000L)), rows)
    info(f"skew report over $n rows / $nKeys keys: $secs%.1f s")
  }

  test("vocab shift report is invariant under 10x corpus replication") {
    // 10 parity-preserving copies of every sf0.1 document: every term
    // count scales uniformly x10 on both sides, so the top-100 sets,
    // the overlap, and every integer-div ppm column must come back
    // BIT-IDENTICAL to the 1x report ((10a*1e6) div (10b) == (a*1e6)
    // div b) — catches any hidden corpus-size dependence or tie-order
    // instability in the top-K boundary at 500k docs.
    val docs1 = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select($"doc_id", $"text")
    val docs10 = docs1.crossJoin(spark.range(10).select($"id".as("j")))
      .select(($"doc_id" + $"j" * 10000000L).as("doc_id"), $"text")
      .localCheckpoint(true)
    val (r10, secs) = timed {
      graft.text.TextQueries.vocabShiftOn(docs10).collect().map(_.toSeq).toSeq
    }
    val r1 = graft.text.TextQueries.vocabShiftOn(docs1)
      .collect().map(_.toSeq).toSeq
    graft.CacheTracker.releaseAll()
    assert(r10 == r1, s"10x report diverged from 1x:\n$r10\nvs\n$r1")
    info(f"vocab shift on ${docs10.count()} docs: $secs%.1f s")
  }

  test("dbscan roles: 25k planted 4-cliques + 10k isolates at 110k nodes") {
    // nodes 0..99999 in complete 4-cliques (every member deg 3 -> core,
    // cluster = the clique's lowest id); nodes 100000..109999 edgeless
    // (noise). ~40x the gate's corpus; pins that the role derivation
    // and the CC pass stay exact when the cluster count is huge.
    val cliques = 25000L
    val offsets = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
    val edges = spark.range(cliques)
      .select(explode(array(offsets.map { case (a, b) =>
        struct(($"id" * 4 + a).as("va"), ($"id" * 4 + b).as("vb"))
      }: _*)).as("e"))
      .select($"e.va", $"e.vb")
      .localCheckpoint(true)
    val ids = spark.range(cliques * 4 + 10000).select($"id".as("vec_id"))
    val (out, secs) = timed {
      graft.vector.SimilarityQueries.dbscanRoles(ids, edges, minPts = 3)
        .localCheckpoint(true)
    }
    val n = out.count()
    assert(n == cliques * 4 + 10000)
    val badCore = out.filter($"vec_id" < cliques * 4 &&
      ($"role" =!= "core" || $"deg" =!= 3L ||
        $"cluster" =!= expr("(vec_id div 4) * 4"))).count()
    val badNoise = out.filter($"vec_id" >= cliques * 4 &&
      ($"role" =!= "noise" || $"cluster" =!= -1L)).count()
    graft.CacheTracker.releaseAll()
    assert(badCore == 0, s"$badCore clique members mis-labeled")
    assert(badNoise == 0, s"$badNoise isolates mis-labeled")
    info(f"dbscan on ${n} nodes / ${cliques * 6} edges: $secs%.1f s")
  }

  test("majority vote stays exact at 1M ballots over 100k groups") {
    // group q votes: 6 ballots of label (q % 5), 4 of label (q % 5 + 1)
    // -> winner is always (q % 5) with 6 votes; a tie-break or count
    // error anywhere in 100k groups fails the full-table comparison
    val ballots = spark.range(100000L * 10)
      .select(expr("id div 10").as("q_id"),
        when($"id" % 10 < 6, expr("(id div 10) % 5"))
          .otherwise(expr("(id div 10) % 5 + 1")).cast("int").as("label"))
    val (bad, secs) = timed {
      graft.vector.SimilarityQueries.majorityVote(ballots)
        .filter($"pred_label" =!= ($"q_id" % 5).cast("int") ||
          $"n_votes" =!= 6L)
        .count()
    }
    assert(bad == 0, s"$bad groups got a wrong majority")
    info(f"vote on 1M ballots: $secs%.1f s")
  }

  test("rendezvous sharding stays balanced and drop-stable at 1M docs") {
    // the two properties the 100 TB writer relies on, at 1M ids: md5
    // rendezvous balance (each of 16 shards within ±5% of 62 500) and
    // minimal disruption (re-assigning WITHOUT shard 7 changes nothing
    // for docs that weren't on shard 7) — both via the gate's exact
    // shapes: candidate explode + max-of-struct argmax, no window
    val n = 1000000L
    def assign(shards: Seq[Int]) = spark.range(n)
      .select($"id".as("doc_id"),
        explode(array(shards.map(lit): _*)).as("shard"))
      .withColumn("h", md5(concat($"doc_id".cast("string"), lit(":"),
        $"shard".cast("string")).cast("binary")))
      .groupBy($"doc_id")
      .agg(max(struct($"h", $"shard")).getField("shard").as("shard"))
    val (full, secs) = timed(assign(0 until 16).localCheckpoint(true))
    val counts = full.groupBy($"shard").count()
      .as[(Int, Long)].collect().toMap
    assert(counts.size == 16)
    counts.foreach { case (sh, c) =>
      assert(math.abs(c - 62500L) <= 3125L,
        s"shard $sh holds $c of 1M — rendezvous balance broke")
    }
    val reduced = assign((0 until 16).filterNot(_ == 7))
    val moved = full.filter($"shard" =!= 7)
      .join(reduced.toDF("doc_id", "shard2"), "doc_id")
      .filter($"shard" =!= $"shard2").count()
    assert(moved == 0, s"$moved docs off shard 7 moved when 7 dropped")
    info(f"rendezvous 1M x 16: $secs%.1f s")
  }

  test("frequent pairs stay order-size-bounded with an exact planted count") {
    // 500k synthetic orders, 3 items each from a 97-part catalog via a
    // rotating formula: order i holds {i%97, (i+1)%97, (i+2)%97}. Every
    // candidate count is exactly C(3,2) per order (the Σ C(|order|,2)
    // bound with equality), and each unordered catalog pair (p, p+1 mod
    // 97) appears in exactly the orders whose window covers it — a
    // closed-form support the shuffle must reproduce at 1.5M rows.
    val n = 500000L
    val items = spark.range(n).select($"id".as("ord"),
        explode(array($"id" % 97, ($"id" + 1) % 97, ($"id" + 2) % 97))
          .as("part"))
      .distinct().localCheckpoint(true)
    val (pairs, secs) = timed {
      items.alias("a").join(items.alias("b"), Seq("ord"))
        .where($"a.part" < $"b.part")
        .groupBy($"a.part".as("pa"), $"b.part".as("pb"))
        .agg(count(lit(1)).as("support"))
        .localCheckpoint(true)
    }
    val totalCand = pairs.agg(sum($"support")).head.getLong(0)
    assert(totalCand == 3L * n,
      s"candidates must be exactly C(3,2) per order: $totalCand")
    // adjacent catalog pairs {p, p+1}: covered by 2 of every 97-cycle's
    // windows; distance-2 pairs {p, p+2}: by 1 — spot-check both bands
    val bySupport = pairs
      .select(($"pb" - $"pa").as("d"), $"support")
      .groupBy($"d").agg(sum($"support").as("s"), count(lit(1)).as("k"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // d=1 adjacent (plus the wrap pair at d=96), d=2 (plus wraps at 95)
    assert(bySupport(1L)._1 + bySupport(96L)._1 == 2L * n,
      "adjacent-pair support mass must be 2 per order")
    assert(bySupport(2L)._1 + bySupport(95L)._1 == n,
      "distance-2 support mass must be 1 per order")
    info(f"frequent pairs on 1.5M items: $secs%.1f s")
  }

  test("containment dedup recovers planted prefixes at a 5x corpus, banding-bounded") {
    import graft.text.NearDup
    // 5 replicas of every sf0.1 doc (offset ids), each with its
    // 70%-prefix fragment — 50k documents through the gate's exact
    // pipeline: shingles, minhash bands, capped candidates, exact
    // containment. Pins at scale: candidate count stays within the
    // banding bound n*bands*cap, the planted fragments keep >= 60%
    // recovery, and every recovered planted pair is EXACTLY contained
    // (inter == |fragment shingles|).
    val base = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select($"doc_id", graft.text.TextAnalysis.tokens($"text").as("toks"))
      .filter(size($"toks") >= 15)
      .crossJoin(spark.range(5))
      .select(($"doc_id" + $"id" * 1000000L).as("doc_id"), $"toks")
    val corpus = base.select(explode(array(
        struct($"doc_id", $"toks"),
        struct(($"doc_id" + 20000000L).as("doc_id"),
          slice($"toks", lit(1),
            expr("cast((size(toks) * 7) div 10 as int)")).as("toks")))).as("r"))
      .select($"r.doc_id", $"r.toks")
    val shingled = corpus
      .select($"doc_id", NearDup.wordShingles($"toks", 3).as("sh"))
      .localCheckpoint(true)
    val nDocs = shingled.count()
    val nBase = nDocs / 2
    val (cand, secs) = timed {
      NearDup.lshCandidates(
        NearDup.bandRows(
          shingled.select($"doc_id", posexplode(expr("minhash_md5(sh, 8)"))),
          "doc_id", 2),
        "doc_id").localCheckpoint(true)
    }
    val nCand = cand.count()
    assert(nCand <= nDocs * 4L * graft.text.NearDup.LshBandCap,
      s"candidates $nCand exceed the banding bound at $nDocs docs")
    val planted = cand.filter($"doc_b" === $"doc_a" + 20000000L)
      .localCheckpoint(true)
    assert(planted.count() >= (nBase * 6L) / 10L,
      s"only ${planted.count()} of $nBase planted fragments recovered")
    val broken = planted
      .join(shingled.toDF("doc_a", "sh_a"), "doc_a")
      .join(shingled.toDF("doc_b", "sh_b"), "doc_b")
      .filter(size(array_intersect($"sh_a", $"sh_b")) =!= size($"sh_b"))
      .count()
    assert(broken == 0,
      s"$broken recovered prefixes not exactly contained")
    info(f"containment on $nDocs docs: $nCand candidates, $secs%.1f s")
  }

  test("bpe training is invariant under 10x corpus replication") {
    val docs1 = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select($"text")
    // 10 copies of every document: frequencies scale ×10 uniformly, so
    // the top-300 vocabulary, every round's winning pair, and the final
    // symbol sequences must be IDENTICAL — only freq changes. Catches
    // any hidden corpus-size dependence in the merge loop.
    val docs10 = docs1.crossJoin(spark.range(10)).select($"text")
      .localCheckpoint(true)
    val (out10, secs) = timed {
      graft.text.BpeQueries
        .trainOn(spark, graft.text.BpeQueries.vocabOf(docs10))
        .localCheckpoint(true)
    }
    val out1 = graft.text.BpeQueries
      .trainOn(spark, graft.text.BpeQueries.vocabOf(docs1))
    val r1 = out1.select($"w", $"freq" * 10, $"bpe", $"n_symbols")
      .as[(String, Long, String, Int)].collect().toSeq.sortBy(_._1)
    val r10 = out10.select($"w", $"freq", $"bpe", $"n_symbols")
      .as[(String, Long, String, Int)].collect().toSeq.sortBy(_._1)
    assert(r10 == r1, "10x-replicated training diverged from 1x")
    info(f"BPE train on 10x corpus (${docs10.count()} docs): $secs%.1f s")
  }

  test("winnowing detection guarantee holds over 50k planted-run docs, partition-invariant") {
    // 50k docs, each: 3..9 unique prefix tokens + the SAME 8-token run
    // + 6 unique suffix tokens. The run is >= w+k-1 = 8 tokens, so the
    // SWA03 guarantee says EVERY doc selects at least one fingerprint
    // from inside the run — and because the selection minimum compares
    // the gram HASH before the position, every doc selects the SAME
    // run gram hash despite the run sitting at a different position per
    // doc. Assert on the operator's own selection output: one hash is
    // selected by all 50k docs. Repartitioning must not move a single
    // selected row (windows are per-doc).
    val n = 50000L
    val run = (1 to 8).map(i => s"common$i")
    val docs = spark.range(n).select($"id".as("doc_id"),
        concat(
          transform(sequence(lit(1), (lit(3) + pmod($"id", lit(7))).cast("int")),
            j => concat(lit("u"), $"id", lit("x"), j)),
          typedLit(run),
          transform(sequence(lit(1), lit(6)),
            j => concat(lit("v"), $"id", lit("x"), j))).as("toks"))
      .localCheckpoint(true)
    val ((universal, total), secs) = timed {
      val sel = graft.text.TextQueries.winnowingSelected(docs, 5)
        .select($"doc_id", split($"m", "\\|").getItem(0).as("h"))
      val byHash = sel.groupBy($"h")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" === n).count()
      (byHash, sel.count())
    }
    assert(universal >= 1,
      "no fingerprint hash selected by every doc — detection guarantee broke")
    val d7 = graft.text.TextQueries.winnowingOn(docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    val d64 = graft.text.TextQueries.winnowingOn(docs.repartition(64))
      .collect().map(_.toSeq).toSeq
    graft.CacheTracker.releaseAll()
    assert(d7 == d64, "winnowing report changed under repartitioning")
    info(f"winnowing 50k docs / $total selected rows: $secs%.1f s")
  }

  test("rake top-50 is invariant under 10x replication and repartitioning") {
    // 10 copies of every sf0.1 document: every word degree, phrase
    // occurrence count and phrase score scales exactly x10, so the
    // top-50 must be the SAME phrases in the SAME order with n_occ and
    // score exactly 10x — any corpus-size dependence or tie instability
    // at the top-K boundary breaks equality. Partitioning must not
    // matter (island windows are per-doc, stats are exact integers).
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", graft.text.TextAnalysis.tokens($"text").as("toks"))
    val docs1 = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
      .select($"doc_id", $"text")
    val docs10 = docs1.crossJoin(spark.range(10).select($"id".as("j")))
      .select(($"doc_id" + $"j" * 10000000L).as("doc_id"), $"text")
      .localCheckpoint(true)
    val (r10, secs) = timed {
      graft.text.TextQueries.rakeOn(toks(docs10).repartition(13))
        .as[(String, Long, Long)].collect().toSeq
    }
    val r1 = graft.text.TextQueries.rakeOn(toks(docs1))
      .as[(String, Long, Long)].collect().toSeq
    graft.CacheTracker.releaseAll()
    assert(r10 == r1.map { case (p, occ, sc) => (p, occ * 10, sc * 10) },
      s"10x RAKE diverged from scaled 1x:\n${r10.take(5)}\nvs\n${r1.take(5)}")
    info(f"RAKE on ${docs10.count()} docs: $secs%.1f s")
  }

  test("cascade funnel: 50k corpus with a 10k-copy hot 1-bit bucket stays tier-bounded") {
    // 50k synthetic 64-dim embeddings (md5-derived components — the
    // CLAUDE.md determinism rule: never an affine ramp); every vec_id
    // ≡ 1 (mod 5) is an EXACT copy of query 1's vector, so 10k corpus
    // vectors share query 1's sign signature — the hot 1-bit bucket.
    // The funnel must stay bounded (tier 1's rank window caps the
    // bucket at 64 by (h_dist, vec_id)) and the final top-5 for query 1
    // must be the 5 smallest copies at h_dist 0 — tie discipline, not
    // bucket luck.
    val n = 50000L
    val md = "conv(substring(md5(concat('se|', cast(id as string), '|', " +
      "cast(d as string))), 1, 6), 16, 10)"
    val emb = spark.range(n).select($"id".as("vec_id"), expr(
        s"""transform(sequence(0, 63), d -> cast(
           |  (cast($md as double) - 8388608.0) / 8388608.0 as float))"""
          .stripMargin).as("embedding"))
      .select($"vec_id",
        when($"vec_id" % 5 === 1,
          expr(s"""transform(sequence(0, 63), d -> cast(
                  |  (cast(${md.replace("cast(id as string)", "'1'")}
                  |   as double) - 8388608.0) / 8388608.0 as float))"""
            .stripMargin))
          .otherwise($"embedding").as("embedding"))
      .localCheckpoint(true)
    val (rows, secs) = timed {
      graft.vector.SimilarityQueries.cascadeOn(emb).collect()
    }
    graft.CacheTracker.releaseAll()
    assert(rows.length == 25, s"5 queries x top-5 expected, got ${rows.length}")
    val q1 = rows.filter(_.getLong(0) == 1L)
      .sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getInt(3)))
    assert(q1.map(_._1).toSeq == Seq(6L, 11L, 16L, 21L, 26L),
      s"query 1's top-5 must be the 5 smallest hot-bucket copies, got ${q1.toSeq}")
    assert(q1.forall(_._2 == 0),
      s"hot-bucket copies must sit at Hamming distance 0, got ${q1.toSeq}")
    (0 to 4).foreach { q =>
      val ranks = rows.filter(_.getLong(0) == q.toLong).map(_.getInt(1)).sorted
      assert(ranks.toSeq == (1 to 5), s"query $q funnel emitted ranks $ranks")
    }
    info(f"cascade on $n vectors (10k-copy hot bucket): $secs%.1f s")
  }

  test("deletion-vector anti-join: skewed delete keys in one hot partition at 200k rows") {
    // 200k keys, 90% in one hot status partition; the DV deletes every
    // even key of the hot partition ONLY (90k skewed deletes). The
    // compaction rewrite must (a) rewrite only the hot partition,
    // carrying the cold partitions' files forward UNTOUCHED (same
    // manifest entries), (b) drop exactly the DV keys, (c) leave v1
    // fully readable — the deletion-vectors contract under delete-key
    // skew 10x the gate corpus.
    val root = s"${graft.Scratch.dir}/graft_stress_dv_${graft.Scratch.runToken}"
    val n = 200000L
    val base = spark.range(n).select($"id".as("k"),
        when($"id" % 10 < 9, "HOT").otherwise(concat(lit("C"), $"id" % 3))
          .as("part"))
      .repartition($"part")
    graft.operators.Snapshots.commit(spark, root, base, "part")
    val v1 = graft.operators.Snapshots.read(spark, root, 1)
    val dv = v1.filter($"part" === "HOT" && $"k" % 2 === 0).select($"k")
    val (_, secs) = timed {
      val masked = v1.join(broadcast(dv), Seq("k"), "left_anti")
      graft.operators.Snapshots.commit(spark, root,
        masked.filter($"part" === "HOT").repartition($"part"), "part",
        carry = rel => !rel.contains("part=HOT/"))
    }
    val m1 = graft.operators.Snapshots.manifest(root, 1)
    val m2 = graft.operators.Snapshots.manifest(root, 2)
    val cold1 = m1.filterNot(_.contains("part=HOT/")).sorted
    val cold2 = m2.filterNot(_.contains("part=HOT/")).sorted
    assert(cold1 == cold2,
      "cold partitions must carry forward file-identical, not rewrite")
    assert(m2.filter(_.contains("part=HOT/")).forall(_.startsWith("c00002")),
      "the hot partition must be fully rewritten by commit 2")
    val v2 = graft.operators.Snapshots.read(spark, root, 2)
    val hotN = v2.filter($"part" === "HOT").count()
    val expectHot = spark.range(n)
      .filter($"id" % 10 < 9 && $"id" % 2 =!= 0).count()
    assert(hotN == expectHot, s"hot partition rows $hotN != $expectHot")
    assert(v2.filter($"part" === "HOT" && $"k" % 2 === 0).count() == 0,
      "DV keys survived the rewrite")
    assert(graft.operators.Snapshots.read(spark, root, 1).count() == n,
      "v1 must remain fully readable after the DV compaction")
    info(f"DV anti-join at $n rows / 90k skewed deletes: $secs%.1f s")
  }

  test("frontier BFS on a 50k high-diameter chain: 4-source settled union is exact") {
    // a pure path graph (diameter 49999) defeats any expander luck: each
    // of 4 sources spaced along the chain can settle ONLY a radius-16
    // interval inside the round budget, so the settled-set union and the
    // per-(node, lm) anti-join are exercised at 50k adj rows with an
    // exactly computable answer: dist(node, src) when <= 16, absent
    // otherwise — any double-settle or cross-source bleed changes counts
    val n = 50000L
    val docs = spark.range(n).select($"id".as("doc_id")).localCheckpoint(true)
    val und = spark.range(n - 1)
      .select($"id".as("a"), ($"id" + 1).as("b"))
    val adj = und.select($"a".as("src"), $"b".as("dst"))
      .unionByName(und.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint(true)
    import graft.pipeline.CurationQueries
    val sources = Seq(0L, 20000L, 30000L, n - 1).zipWithIndex
    val (settled, secs) = timed {
      CurationQueries.frontierBfs(docs, adj, sources, 16)
        .localCheckpoint(true)
    }
    // expected rows: interior sources settle 33 nodes (radius 16 both
    // ways incl. self), endpoint sources 17 (one-sided)
    val expect = 17 + 33 + 33 + 17
    assert(settled.count() == expect,
      s"settled union must hold exactly $expect (node, lm) rows")
    val wrong = settled
      .join(spark.createDataFrame(sources).toDF("src_node", "lm2"),
        $"lm" === $"lm2")
      .filter(abs($"node" - $"src_node") =!= $"d" || $"d" > 16)
      .count()
    assert(wrong == 0, s"$wrong settled rows carry a wrong chain distance")
    info(f"frontier BFS 4-source on a 50k chain: $secs%.1f s")
  }

  test("frontier BFS early exit: an 8-node component inside 50k docs settles and stops") {
    // adjacency holds ONLY the 7 edges of nodes 0..7; the frontier
    // empties at round 8 (< the 16-round budget) and the early exit must
    // return exactly the component — at 100x the component size the loop
    // cost is bounded by the frontier, never the docs table
    val n = 50000L
    val docs = spark.range(n).select($"id".as("doc_id")).localCheckpoint(true)
    val und = spark.range(7).select($"id".as("a"), ($"id" + 1).as("b"))
    val adj = und.select($"a".as("src"), $"b".as("dst"))
      .unionByName(und.select($"b".as("src"), $"a".as("dst")))
      .localCheckpoint(true)
    import graft.pipeline.CurationQueries
    val (settled, secs) = timed {
      CurationQueries.frontierBfs(docs, adj, Seq((0L, 0)), 16)
        .localCheckpoint(true)
    }
    val rows = settled.orderBy($"node").collect()
    assert(rows.length == 8, s"component of 8 expected, got ${rows.length}")
    assert(rows.forall(r => r.getLong(r.fieldIndex("d")) ==
      r.getLong(r.fieldIndex("node"))),
      "chain distances must equal node ids")
    info(f"frontier BFS early exit (8-node component in 50k docs): $secs%.1f s")
  }

  test("wordpiece encode at 49k distinct words: planted rare alphabet falls to [UNK]") {
    // 49k distinct 8-char words over {a..e} at freq 1M dominate the
    // 200-slot piece vocabulary (every surviving piece weighs >= ~300M);
    // 16 rare words, each a distinct {k..z} char repeated 8x at freq 2M,
    // contribute pieces weighing <= 16M — excluded with ~20x margin, so
    // every rare word must fail whole-word to [UNK] while every common
    // word must re-concatenate from its pieces. Drives the greedy DP
    // aggregate + vocabulary window at ~100x the gate's distinct-word
    // count (the broadcast-encode-table scale risk the gate carries).
    val common = spark.range(49000)
      .select(translate(lpad(conv($"id".cast("string"), 10, 5), 8, "0"),
        "01234", "abcde").as("w"), lit(1000000L).as("freq"))
    val rare = spark.range(16)
      .select(expr("repeat(char(107 + id), 8)").as("w"),
        lit(2000000L).as("freq"))
    val words = common.unionByName(rare)
    val (out, secs) = timed {
      graft.text.WordpieceQueries.encodeOn(spark, words).collect()
    }
    assert(out.length == 50, s"top-50 expected, got ${out.length}")
    val (unk, enc) = out.partition(_.getString(out.head.fieldIndex("wp")) == "[UNK]")
    assert(unk.length == 16,
      s"all 16 rare words must surface as [UNK] (got ${unk.length})")
    assert(unk.forall(_.getInt(out.head.fieldIndex("n_pieces")) == 1),
      "[UNK] rows must report a single piece")
    enc.foreach { r =>
      val w = r.getString(r.fieldIndex("w"))
      val wp = r.getString(r.fieldIndex("wp"))
      assert(wp.replace("##", "").replace(" ", "") == w,
        s"pieces of $w do not re-concatenate: $wp")
    }
    info(f"wordpiece encode over 49k distinct words: $secs%.1f s")
  }
}
