package graft.vector

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters

import org.apache.spark.sql.functions._

import graft.SharedSpark

/** Randomized lock on the "same plan, different constants" claim: for
  * random valid (bands, bits/hashes-per-band) shapes the distributed
  * banded-LSH operators must agree with a sequential in-memory banding
  * model over the SAME signatures. BandingSpec exercises one non-default
  * shape end-to-end; this pins every shape the banding parameters
  * admit. (The DuckDB oracle gates the default shape each round; the
  * model here encodes the same semantics the oracle SQL implements.)
  */
object BandingProps extends Properties("lshBanding") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SharedSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  private val minhashShape = for {
    r <- Gen.choose(1, 4)
    b <- Gen.choose(1, 4)
  } yield (b, r)

  property("minhash banded candidates equal the in-memory banding model") =
    forAll(minhashShape) { case (b, r) =>
      val k = b * r
      val got = graft.text.DedupQueries.minhashCandidatesWith(k, r)(spark, dir)
        .as[(Long, Long)].collect().toSet
      val sigs = graft.text.DedupQueries.minhashSignaturesWith(k)(spark, dir)
        .as[(Long, Seq[String])].collect().toSeq
      graft.CacheTracker.releaseAll()
      // model: same band keys (r consecutive hashes joined by '|'), all
      // id-ordered pairs sharing any band key — groups over the
      // production hot-band cap dropped, mirroring lshCandidates'
      // default path (short r makes large collision groups reachable)
      val cap = graft.text.NearDup.LshBandCap
      val expected = (0 until b).flatMap { band =>
        sigs.groupBy { case (_, mh) =>
          mh.slice(band * r, band * r + r).mkString("|")
        }.values.filter(_.size <= cap).flatMap { group =>
          for (a <- group; bb <- group if a._1 < bb._1) yield (a._1, bb._1)
        }
      }.toSet
      sigs.nonEmpty && got == expected
    }

  private val hotShape = for {
    cap <- Gen.choose(1, 5)
    extra <- Gen.choose(1, 10) // hot group exceeds cap by this much
    nNormal <- Gen.choose(1, 6)
    normalSizes <- Gen.listOfN(nNormal, Gen.choose(1, cap))
  } yield (cap, extra, normalSizes)

  property("hot (band,key) groups are dropped, bounding candidates") =
    forAll(hotShape) { case (cap, extra, normalSizes) =>
      // planted adversary: one boilerplate group blowing past the cap,
      // normal groups at-or-under it, all in one band — the shape a
      // same-header corpus produces
      val hot = (0 until cap + extra).map(i => (i.toLong, 0, "HOT"))
      val normal = normalSizes.zipWithIndex.flatMap { case (sz, gi) =>
        (0 until sz).map(i => ((1000 + gi * 100 + i).toLong, 0, s"g$gi"))
      }
      val bands = (hot ++ normal).toDF("doc_id", "band", "mh")
      val got = graft.text.NearDup.lshCandidates(bands, "doc_id", cap)
        .as[(Long, Long)].collect().toSet
      // model: pairs only within groups at-or-under the cap
      val expected = normalSizes.zipWithIndex.flatMap { case (sz, gi) =>
        val ids = (0 until sz).map(i => (1000 + gi * 100 + i).toLong)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      val nGroups = normalSizes.size + 1
      got == expected &&
        got.size <= nGroups * cap * (cap - 1) / 2 &&
        !got.exists { case (a, b) => a < 1000 || b < 1000 }
    }

  private val annShape = for {
    r <- Gen.choose(2, 12)
    b <- Gen.choose(1, 4)
  } yield (b, r)

  property("sign-LSH ANN equals exact top-5 over model candidates at any shape") =
    forAll(annShape) { case (b, r) =>
      val rows = SimilarityQueries.annLshWith(b, r)(spark, dir)
        .select("q_id", "vec_id", "rank").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
      val sigs = graft.Tables(spark, dir, "embeddings")
        .select($"vec_id", expr(s"sign_bits(embedding, ${b * r})"))
        .as[(Long, String)].collect().toMap
      val emb = graft.Tables(spark, dir, "embeddings")
        .select($"vec_id", $"embedding")
        .as[(Long, Seq[Float])].collect().toMap
      graft.CacheTracker.releaseAll()
      def bandsOf(sig: String): Seq[String] =
        (0 until b).map(i => sig.substring(i * r, i * r + r))
      def cos(a: Seq[Float], c: Seq[Float]): Double = {
        val ad = a.map(_.toDouble); val cd = c.map(_.toDouble)
        val dot = ad.zip(cd).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(ad.map(x => x * x).sum) *
          math.sqrt(cd.map(x => x * x).sum))
      }
      val model = (for {
        q <- sigs.keys.toSeq.filter(_ < 5)
        qb = bandsOf(sigs(q)).zipWithIndex.toSet
        cand = sigs.keys.toSeq.filter(v =>
          v != q && bandsOf(sigs(v)).zipWithIndex.toSet.intersect(qb).nonEmpty)
        (v, rk) <- cand.sortBy(v => (-cos(emb(q), emb(v)), v)).take(5).zipWithIndex
      } yield (q, v, rk + 1)).toSet
      rows.toSet == model
    }
}
