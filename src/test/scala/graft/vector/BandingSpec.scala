package graft.vector

import graft.SparkSpec

/** Proves the LSH banding parameterization is live: the same query at a
  * NON-default (bands, bits-per-band) shape still produces exact-cosine
  * results with nonzero recall — so the signature can be re-sized per
  * corpus without touching the plan.
  */
class BandingSpec extends SparkSpec {

  test("ANN at non-default banding (2 bands x 8 bits) still recalls exact neighbors") {
    val exact = graft.Queries.queries("sim_knn_brute")(spark, sf0001)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SimilarityQueries.annLshWith(2, 8)(spark, sf0001)
      .select("q_id", "vec_id", "rank").collect()
    graft.CacheTracker.releaseAll()
    assert(rows.nonEmpty, "2x8 banding must still produce candidates")
    // per-query top-5 contract holds at any shape
    assert(rows.map(_.getInt(2)).forall(r => r >= 1 && r <= 5))
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.intersect(exact).nonEmpty,
      "longer bands must still surface some of the exact top-10")
  }
}
