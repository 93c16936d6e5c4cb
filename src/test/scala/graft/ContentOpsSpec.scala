package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.CacheScope
import graft.functions.{Text, Vec}
import graft.operators.{Dedup, Multimodal, Similarity}

class TextFunctionsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("langId picks the language with most stopword hits; und when none") {
    val df = Seq(
      "the cat sat on the mat and the dog",
      "el perro y la casa de los gatos",
      "xyzzy plugh qwerty").toDF("text")
    val got = df.select(Text.langId(Text.tokens(col("text")))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val got = df.select(Text.fingerprint(Text.tokens(col("text")))).as[Long].collect()
    assert(got(0) == got(2) && got(0) != got(1))
  }

  test("shingles builds word n-grams with correct count") {
    val df = Seq("a b c d e").toDF("text")
    val got = df.select(Text.shingles(Text.tokens(col("text")), 3))
      .as[Seq[String]].collect().head
    assert(got == Seq("a b c", "b c d", "c d e"))
  }

  test("simhash of identical docs collides, different docs differ") {
    val df = Seq((1L, "spark scala engine"), (2L, "spark scala engine"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val got = Dedup.simhash(df, "doc_id", "text").orderBy("doc_id")
      .select("simhash").as[Long].collect()
    assert(got(0) == got(1) && got(0) != got(2))
  }
}

class DedupSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup of 1
    (4L, "one two three four five six seven eight")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under min-id keeper") {
    val got = Dedup.exact(docs, "doc_id", "text").orderBy("keeper")
      .select("keeper", "n_docs").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 16, 8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(!pairs.keys.exists { case (a, b) => b == 4L || a == 4L })
    pairs.get((1L, 3L)).foreach(j => assert(j > 0.5 && j < 1.0))
  }

  test("contamination flags n-gram collisions against a benchmark, exactly") {
    // bench doc 100 has 6 tokens -> 4 distinct 3-grams; doc 1 contains the
    // full 6-token span verbatim (all 4 shared), doc 2 shares exactly one
    // 3-gram, doc 3 shares none
    val bench = Seq((100L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words the quick brown fox jumps high outro words"),
      (2L, "the quick brown cat naps on mats"),
      (3L, "completely different tokens everywhere again still more")
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(corpus, bench, shingleN = 3, minShared = 1)
      .select("doc_id", "bench_id", "n_shared").as[(Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((1L, 100L)) == 4L, s"full-span doc: $got")
    assert(got((2L, 100L)) == 1L, s"single-shingle doc: $got")
    assert(!got.contains((3L, 100L)), s"clean doc flagged: $got")
    // the threshold drops the weak collision
    val strict = Dedup.contamination(corpus, bench, shingleN = 3,
        minShared = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(strict == Set(1L), s"minShared=2 must keep only doc 1: $strict")
  }

  test("connected components resolve chains, local minima, and singleton edges") {
    // 1-5-2-7: a local-min trap (2 < both neighbors 5,7 but component min
    // is 1, two hops away — pure pointer doubling without re-propagation
    // stalls here); 10..14: a chain whose min sits at one end; 8-9: a pair.
    val edges = Seq(
      (1L, 5L), (5L, 2L), (2L, 7L),
      (8L, 9L),
      (13L, 14L), (12L, 13L), (11L, 12L), (10L, 11L)
    ).toDF("doc_a", "doc_b")
    val expect = Map(
      1L -> 1L, 5L -> 1L, 2L -> 1L, 7L -> 1L,
      8L -> 8L, 9L -> 8L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L)
    // both tiers: the driver union-find (default threshold) and the
    // distributed loop (threshold 0) must produce the identical map
    val gotSmall = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(gotSmall == expect, s"driver tier: got $gotSmall")
    val gotDist = Dedup.connectedComponents(edges, collectThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotDist == expect, s"distributed tier: got $gotDist")
  }

  test("connected components converge immediately on an empty edge list") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, maxIter = 5).count() == 0)
    assert(Dedup.connectedComponents(empty, maxIter = 5,
      collectThreshold = 0L).count() == 0)
  }

  test("connected components match a union-find oracle on 20 random graphs") {
    // seeded-random property lock on the accumulator-convergence rewrite:
    // chains, stars, cliques, and disconnected mixes of up to 60 nodes,
    // each checked against a driver-side union-find ground truth
    val r = new scala.util.Random(4242)
    (1 to 20).foreach { trial =>
      val nNodes = 4 + r.nextInt(57)
      val nodes = (0 until nNodes).map(_ => r.nextLong(1000000L)).distinct
      val nEdges = 1 + r.nextInt(nodes.size * 2)
      val edges = (0 until nEdges).map { _ =>
        (nodes(r.nextInt(nodes.size)), nodes(r.nextInt(nodes.size)))
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val root = find(p); parent(x) = root; root }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // canonical truth: every paired node -> min reachable node id
        val members = parent.keys.toSeq
        val truth = members.groupBy(find).flatMap { case (_, ms) =>
          val m = ms.min; ms.map(_ -> m)
        }
        // alternate tiers across trials: odd trials force the distributed
        // loop, even trials take the driver union-find path — both stay
        // locked to the same oracle
        val thr = if (trial % 2 == 1) 0L else 500000L
        val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"),
            collectThreshold = thr)
          .as[(Long, Long)].collect().toMap
        assert(got == truth, s"trial $trial (thr=$thr): ${edges.size} edges, got $got expected $truth")
      }
    }
  }

  test("dedupCorpus keeps min-id per duplicate cluster plus singletons") {
    // cluster {1,2,3} (exact + near dups), singleton 4
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text",
        jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L), s"kept ${kept.toSeq}")
    // a corpus with no duplicates above threshold passes through whole
    val keptAll = Dedup.dedupCorpus(docs, "doc_id", "text",
        jaccardThreshold = 1.01)
      .select("doc_id").as[Long].collect().sorted
    assert(keptAll.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("preprocess = quality gate then dedup, end to end") {
    import graft.operators.Corpus
    val corpus = Seq(
      // high-quality English pair of near-dups -> keep min id only
      (1L, "the quick brown fox jumps over the lazy dog and runs to the hills"),
      (2L, "the quick brown fox jumps over the lazy dog and runs to the hill"),
      // high-quality singleton
      (3L, "a bright morning is the best time to walk in the quiet park"),
      // degenerate repetition -> dropped by the gate
      (4L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      // no recognizable language -> dropped by the gate
      (5L, "zzz qqq xxx vvv kkk www yyy mmm nnn ppp rrr ttt")
    ).toDF("doc_id", "text")
    val kept = Corpus.preprocess(corpus, "doc_id", "text",
        minQuality = 0.3, maxRepMilli = 500, jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L), s"kept ${kept.toSeq}")
  }

  test("releaseCaches frees the dedup persists (CC checkpoints stay with the result)") {
    val sc = spark.sparkContext
    Dedup.releaseCaches() // start from a known state
    val before = sc.getPersistentRDDs.size
    Dedup.dedupCorpus(docs, "doc_id", "text", jaccardThreshold = 0.5).count()
    val during = sc.getPersistentRDDs.size
    assert(during > before, "dedupCorpus should persist its input and signatures")
    Dedup.releaseCaches()
    assert(sc.getPersistentRDDs.size < during,
      "releaseCaches must free the tracked dedup persists")
  }

  test("per-run cache scopes release independently") {
    // two interleaved corpus runs on DISTINCT corpora with their own
    // scopes: releasing run A's scope must not touch run B's persists (the
    // session-global trackedPersists this replaces freed BOTH). Distinct
    // inputs matter: Spark's cache manager is plan-keyed, so two runs over
    // the literally-identical frame share one cache entry by design.
    val scopeA = new CacheScope
    val scopeB = new CacheScope
    val docsB = docs.withColumn("doc_id", col("doc_id") + 100L)
    Dedup.dedupCorpus(docs, "doc_id", "text", jaccardThreshold = 0.5,
      scope = scopeA).count()
    Dedup.dedupCorpus(docsB, "doc_id", "text", jaccardThreshold = 0.5,
      scope = scopeB).count()
    assert(scopeA.tracked.nonEmpty && scopeB.tracked.nonEmpty)
    scopeA.release()
    assert(scopeA.tracked.isEmpty)
    assert(scopeB.tracked.forall(
        _.storageLevel != org.apache.spark.storage.StorageLevel.NONE),
      "scope B's persists must survive scope A's release")
    scopeB.release()
  }

  test("default cap: degenerate-bucket corpus completes; dups recalled via other bands") {
    // 2000 docs sharing a long boilerplate prefix: most band signatures are
    // boilerplate-minima-only, so every band has a >1000-doc bucket — the
    // configuration that is quadratic (8 x ~1500^2 candidate pairs) without
    // the DEFAULT cap. The exact-dup pair 9001/9002 sits inside those
    // degenerate buckets too, but its distinctive suffix owns the minima of
    // its remaining bands, forming a size-2 bucket — proving capped docs'
    // genuine dups are still caught via their other, discriminating bands.
    val boiler = "the quick brown fox jumps over the lazy dog while the rain " +
      "in spain falls mainly on the plain and all work and no play makes " +
      "jack a dull boy said the walrus to the carpenter on a sunny day"
    val base = (1L to 2000L).map(i => (i, s"$boiler unique$i marker$i tail$i"))
    val pairText = s"$boiler completely distinctive ending sentence about " +
      "narwhals and glaciers drifting north past luminous fjords"
    val all = (base ++ Seq((9001L, pairText), (9002L, pairText)))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(all, "doc_id", "text", jaccardThreshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(9001L) && !kept.contains(9002L),
      "exact dup inside a capped corpus must still dedup via non-degenerate bands")
    assert((1L to 2000L).forall(kept.contains),
      "sub-threshold boilerplate docs must all survive")
  }

  test("maxBucket cap drops degenerate buckets, keeps normal pairs") {
    // 30 copies of the same boilerplate text -> every band bucket has 30
    // members; cap 10 drops them. The unrelated near-dup pair survives.
    val boiler = (100L until 130L)
      .map(i => (i, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
    val all = (docs.as[(Long, String)].collect().toSeq ++ boiler)
      .toDF("doc_id", "text")
    val capped = Dedup.minhashLsh(all, "doc_id", "text", 16, 8,
        maxBucket = Some(10))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists { case (a, b) => a >= 100L && b >= 100L },
      "boilerplate bucket must be dropped by the cap")
    assert(capped.contains((1L, 2L)), "normal dup pair must survive the cap")
  }
}

class SimilaritySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 0),
    (3L, Array(-1.0f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK ranks by cosine descending") {
    val got = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 0), vecs, 3)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 2L, 3L)) // most->least similar to e_x
  }

  test("lsh buckets are deterministic and identical vectors share a bucket") {
    val b = Similarity.withLshBucket(vecs.union(vecs), 4, 3)
      .select("vec_id", "bucket").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(b.values.forall(_.size == 1)) // same vec -> same bucket, always
  }

  test("nearDupPairs returns the closest pair per group") {
    val got = Similarity.nearDupPairs(vecs, "label")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 1L))) // label 1 has a single vec -> no pair
  }

  test("nearDupPairs maxBlock splits an oversized block and keeps near-dups") {
    // one degenerate block (label 0, 40 spread vectors + a planted
    // near-identical pair) over a cap of 10, plus one healthy block: the
    // capped run must complete via sub-bucketing (no 40x40 join), still
    // surface the planted near-dup (sign-LSH keeps near-identicals
    // together), and leave the under-cap block's result identical
    def v(seed: Long): Array[Float] = Array.tabulate(8) { d =>
      (((seed * 2654435761L + d * 40503L) % 1999).toFloat / 1000f) - 1f
    }
    val spread = (0L until 40L).map(i => (i, v(i), 0))
    val planted = Seq(
      (100L, v(7).map(x => x * 1.001f), 0), // near-identical to vec 7
      (200L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f), 1),
      (201L, Array(0.99f, 0.14f, 0f, 0f, 0f, 0f, 0f, 0f), 1))
    val df = (spread ++ planted).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .nearDupPairs(df, "label", topPerGroup = 1, maxBlock = Some(10))
      .select("grp", "id_a", "id_b").as[(Int, Long, Long)].collect().toSet
    assert(got.contains((0, 7L, 100L)), s"planted near-dup lost: $got")
    assert(got.contains((1, 200L, 201L)), s"under-cap block changed: $got")
  }

  test("nearDupPairs drops a sub-bucket the planes cannot split") {
    // 30 IDENTICAL vectors in one block with cap 10: every sub-bucket
    // assignment collides, so the residual drop must remove the block
    // entirely (the Dedup.defaultMaxBucket judgment call) while a healthy
    // block still returns its pair
    val same = (0L until 30L).map(i => (i, Array(0.5f, -0.25f, 0.125f), 0))
    val healthy = Seq(
      (100L, Array(1f, 0f, 0f), 1),
      (101L, Array(0.9f, 0.1f, 0f), 1))
    val df = (same ++ healthy).toDF("vec_id", "embedding", "label")
    val got = Similarity
      .nearDupPairs(df, "label", topPerGroup = 1, maxBlock = Some(10))
      .select("grp", "id_a", "id_b").as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((1, 100L, 101L)), s"expected only the healthy pair, got $got")
  }
}

class MultimodalSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("payload plumbing + streaming decode roundtrips byte stats") {
    val docs = Seq((7L, "abc")).toDF("doc_id", "text")
    val out = Multimodal.decode(Multimodal.attachPayload(docs, "doc_id", "text"))
      .collect().head
    assert(out.getAs[Long]("n_bytes") == 3L)
    assert(out.getAs[Long]("byte_sum") == ('a' + 'b' + 'c').toLong)
    assert(out.getAs[Seq[Double]]("features").sum == 3.0)
  }

  test("decode streams whole partitions through one shared codec") {
    val docs = (1 to 100).map(i => (i.toLong, "x" * i)).toDF("doc_id", "text")
    val out = Multimodal.decode(Multimodal.attachPayload(docs, "doc_id", "text"))
    assert(out.count() == 100)
  }
}

class SamplingSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Corpus

  private def docs = graft.queries.Common.table(spark,
    "/root/testdata/sf0.01", "documents")

  test("sampleByHash is deterministic, subset-stable, and near-rate") {
    val a = Corpus.sampleByHash(docs, "doc_id", 0.3, salt = "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Corpus.sampleByHash(docs, "doc_id", 0.3, salt = "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "same (salt, rate) must keep the same rows")
    // keep decisions are per-key, so sampling a filtered corpus keeps
    // exactly the intersection — the append/re-run stability a training
    // mix audit relies on (rand()-based sample() has no such property)
    val half = Corpus.sampleByHash(docs.where(col("doc_id") < 250),
        "doc_id", 0.3, salt = "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(half == a.filter(_ < 250), "subset sampling must intersect exactly")
    val n = docs.count().toDouble
    assert(math.abs(a.size - 0.3 * n) < 4 * math.sqrt(0.3 * 0.7 * n),
      s"kept ${a.size} of $n at rate 0.3 — outside 4 sigma")
    // a different salt decorrelates: overlap should be ~rate^2, far from
    // identical
    val c = Corpus.sampleByHash(docs, "doc_id", 0.3, salt = "s2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(c != a && (a intersect c).size < a.size,
      "distinct salts must not reproduce the same sample")
  }

  test("stratifiedSample applies per-stratum rates with a default") {
    val kept = Corpus.stratifiedSample(docs, "lang",
        Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.2,
        keyCol = "doc_id", salt = "mix")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") == totals("en"), "rate 1.0 keeps every row")
    assert(!kept.contains("de"), "rate 0.0 keeps nothing")
    val others = totals.keySet -- Set("en", "de")
    others.foreach { l =>
      val t = totals(l).toDouble
      assert(math.abs(kept.getOrElse(l, 0L) - 0.2 * t) <
        4 * math.sqrt(0.2 * 0.8 * t) + 1,
        s"stratum $l kept ${kept.getOrElse(l, 0L)} of $t at default 0.2")
    }
  }
}

class MixConstructionSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import graft.operators.Corpus

  private def docs = graft.queries.Common.table(spark,
    "/root/testdata/sf0.01", "documents")

  test("packShards packs contiguous runs under the budget per group") {
    val weighted = docs.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("w"))
    val packed = Corpus.packShards(weighted, "w", budget = 5000,
        orderCol = "doc_id", groupCols = Seq("source"))
      .select("source", "shard", "doc_id", "w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packed.nonEmpty)
    packed.groupBy(_._1).foreach { case (src, rows) =>
      val byShard = rows.groupBy(_._2)
      assert(byShard.keySet.min == 0L, s"$src: shards must start at 0")
      // a shard closes only once the budget is crossed: every shard's
      // weight before its last row is < budget (the last row may overflow)
      byShard.foreach { case (sh, rs) =>
        val inOrder = rs.sortBy(_._3)
        assert(inOrder.init.map(_._4).sum < 5000,
          s"$src shard $sh overfilled before its last row")
      }
      // contiguity: shard ids are non-decreasing in doc order
      val ordered = rows.sortBy(_._3).map(_._2)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
        s"$src: shard ids must be non-decreasing in pack order")
    }
  }

  test("quotaPerStratum caps each stratum at k, deterministically") {
    val kept = Corpus.quotaPerStratum(docs, "lang", 30, salt = "t")
    val counts = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (l, t) =>
      assert(counts(l) == math.min(30L, t), s"$l kept ${counts(l)} of $t")
    }
    val again = Corpus.quotaPerStratum(docs, "lang", 30, salt = "t")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet,
      "the chosen k must be stable across runs")
  }

  test("temperatureWeights matches the closed form; alpha endpoints") {
    import spark.implicits._
    // strata a: 4 docs, b: 1 doc. alpha = 0.5: shares ∝ (2, 1) -> a 2/3,
    // b 1/3; T = 5 -> w_a = (2/3*5)/4 = 5/6, w_b = (1/3*5)/1 = 5/3.
    val df = (Seq.fill(4)("a") :+ "b").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "lang")
    val w = Corpus.temperatureWeights(df, "lang", 0.5)
    assert(math.abs(w("a") - 5.0 / 6.0) < 1e-12 &&
      math.abs(w("b") - 5.0 / 3.0) < 1e-12, s"got $w")
    // alpha = 1: the natural distribution — every weight exactly 1
    val w1 = Corpus.temperatureWeights(df, "lang", 1.0)
    assert(w1.values.forall(v => math.abs(v - 1.0) < 1e-12), s"got $w1")
    // alpha = 0: equal shares — w_s = (T/|strata|)/n_s = (2.5/4, 2.5/1)
    val w0 = Corpus.temperatureWeights(df, "lang", 0.0)
    assert(math.abs(w0("a") - 0.625) < 1e-12 &&
      math.abs(w0("b") - 2.5) < 1e-12, s"got $w0")
    // token-weighted totals and an explicit target
    val tok = Seq((1L, "a", 30L), (2L, "b", 10L)).toDF("doc_id", "lang", "n")
    val wt = Corpus.temperatureWeights(tok, "lang", 1.0,
      weightCol = Some("n"), targetTotal = Some(80.0))
    assert(math.abs(wt("a") - 2.0) < 1e-12 &&
      math.abs(wt("b") - 2.0) < 1e-12, s"got $wt")
    // temperatureMix output conserves the upsample contract: every copy
    // index dense from 0, strata never seen -> impossible by construction
    val mixed = Corpus.temperatureMix(df, "lang", 0.5, salt = "tm")
    assert(mixed.groupBy("doc_id").agg(max("copy").as("m"), count(lit(1)).as("c"))
      .where(col("m") =!= col("c") - 1).count() == 0)
  }

  test("upsample replicates by weight with exact copy counts") {
    val weights = Map("en" -> 2.5, "de" -> 0.4, "zh" -> 1.0)
    val up = Corpus.upsample(docs, "lang", weights, defaultWeight = 0.0,
      salt = "u1")
    val rows = up.select("doc_id", "lang", "copy").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // per-doc copy counts follow the closed form, copies indexed 0..n-1
    val perDoc = rows.groupBy(_._1)
    perDoc.foreach { case (_, rs) =>
      val n = rs.length
      assert(rs.map(_._3).sorted.sameElements(0L until n.toLong),
        "copy indices must be a 0-origin run")
    }
    val byLang = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nDocs = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every en doc appears 2 or 3 times; aggregate within a 4-sigma band
    // of 2.5x (hash-Bernoulli on the fractional part)
    val en = nDocs("en")
    assert(byLang("en") >= 2 * en && byLang("en") <= 3 * en)
    val sigma = math.sqrt(en * 0.25)
    assert(math.abs(byLang("en") - 2.5 * en) <= 4 * sigma,
      s"en copies ${byLang("en")} outside 4-sigma of ${2.5 * en}")
    // zh weight 1.0: exactly once each
    assert(byLang("zh") == nDocs("zh"))
    // default weight 0.0 drops the rest entirely
    assert(!rows.exists(r => !weights.contains(r._2)))
    // sub-1 weight is EXACTLY stratifiedSample's Bernoulli keep
    val deUp = rows.filter(_._2 == "de").map(_._1).toSet
    val deSample = Corpus.stratifiedSample(docs, "lang",
        Map("de" -> 0.4), defaultRate = 0.0, salt = "u1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(deUp == deSample)
    // determinism across runs
    val again = Corpus.upsample(docs, "lang", weights,
      defaultWeight = 0.0, salt = "u1")
      .select("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == rows.map(r => (r._1, r._3)).toSet)
  }

  test("trainingMix composition invariants: gate, dedup keeper, copies, shard budget") {
    val weights = Map("en" -> 2.0, "de" -> 1.5, "zh" -> 0.7)
    val budget = 2000L
    val mix = Corpus.trainingMix(docs, weights, budget, salt = "m")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    assert(mix.nonEmpty)
    // copies per doc are floor(w) or floor(w)+1, indexed 0..n-1
    mix.groupBy(_._1).foreach { case (id, rs) =>
      val w = weights(rs.head._3)
      val n = rs.length
      assert(n == math.floor(w).toLong || n == math.floor(w).toLong + 1,
        s"doc $id: $n copies under weight $w")
      assert(rs.map(_._2).sorted.sameElements(0L until n.toLong), s"doc $id")
    }
    // dedup keeper: no two output docs share text, and each keeper is the
    // min id among the gate survivors with that text
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val mixIds = mix.map(_._1).distinct
    assert(mixIds.map(texts).distinct.length == mixIds.length,
      "two mix docs share identical text")
    // shard budget: within (stratum, shard) in pack order, every shard's
    // weight before its last row is < budget, and ids are non-decreasing
    mix.groupBy(m => (m._3, m._5)).foreach { case ((l, sh), rs) =>
      val ordered = rs.sortBy(r => (r._1, r._2))
      assert(ordered.init.map(_._4).sum < budget,
        s"$l shard $sh overfilled before its last row")
    }
    mix.groupBy(_._3).foreach { case (l, rs) =>
      val shardsInOrder = rs.sortBy(r => (r._1, r._2)).map(_._5)
      assert(shardsInOrder.zip(shardsInOrder.tail).forall { case (a, b) => a <= b },
        s"$l: shard ids must be non-decreasing in pack order")
      assert(shardsInOrder.head == 0L, s"$l: shards must start at 0")
    }
  }

  test("shuffleWithinShards: 0-origin permutation per shard, re-salt reorders") {
    val mix = Corpus.trainingMix(docs,
      Map("en" -> 2.0, "de" -> 1.5, "zh" -> 0.7), budget = 2000, salt = "m")
    def run(salt: String) = Corpus.shuffleWithinShards(mix,
        Seq("lang_pred", "shard"), Seq("doc_id", "copy"), salt = salt)
      .select("lang_pred", "shard", "doc_id", "copy", "shuffle_pos")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    val e1 = run("e1")
    e1.groupBy(_._1).foreach { case (sh, rs) =>
      assert(rs.map(_._2._3).sorted.sameElements(0L until rs.length.toLong),
        s"$sh: positions must be a 0-origin permutation")
    }
    // deterministic under the same salt
    assert(run("e1").sortBy(_.toString).sameElements(e1.sortBy(_.toString)))
    // a different epoch salt keeps the same membership but reorders at
    // least one reasonably-sized shard
    val e2 = run("e2")
    assert(e2.map(x => (x._1, x._2._1, x._2._2)).toSet ==
      e1.map(x => (x._1, x._2._1, x._2._2)).toSet)
    val bigShards = e1.groupBy(_._1).filter(_._2.length >= 5).keySet
    assert(bigShards.nonEmpty, "fixture too small to test reordering")
    val reordered = bigShards.exists { sh =>
      def order(rs: Array[((String, Long), (Long, Long, Long))]) =
        rs.filter(_._1 == sh).sortBy(_._2._3).map(x => (x._2._1, x._2._2)).toSeq
      order(e1) != order(e2)
    }
    assert(reordered, "re-salting never changed any within-shard order")
  }

  test("perplexityBuckets: balanced tiles per stratum, rate order, sentinel tail") {
    import spark.implicits._
    val scored = Seq(
      // lang A: rates 9000, 5000, 1000, and a bigramless doc
      (1L, "A", 2L, 18L), (2L, "A", 2L, 10L), (3L, "A", 4L, 4L),
      (4L, "A", 0L, 0L),
      // lang B: two docs
      (10L, "B", 1L, 7L), (11L, "B", 1L, 3L))
      .toDF("doc_id", "lang", "n_bigrams", "lm_micro")
    val got = Corpus.perplexityBuckets(scored, 3, Seq("lang"))
      .select("doc_id", "bucket", "lm_rate_milli")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // A: 4 docs over 3 tiles -> sizes 2,1,1; best rate (doc 1) in bucket 1,
    // bigramless doc 4 sinks to the last tile via the sentinel
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L)
    assert(got(3L)._1 == 2L)
    assert(got(4L)._1 == 3L && got(4L)._2 < -1000000000L)
    // exact integer rates: 18*1000 div 2 = 9000
    assert(got(1L)._2 == 9000L && got(3L)._2 == 1000L)
    // B: 2 docs over 3 tiles -> buckets 1 and 2, higher rate first
    assert(got(10L)._1 == 1L && got(11L)._1 == 2L)
  }
}

class ScrubSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Corpus

  test("scrub redacts planted emails and urls with exact counts") {
    val df = Seq(
      (1L, "write to alice.smith+x@sub.example.co for info"),
      (2L, "docs at https://example.org/a/b_c-d.html and http://e.io/x"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = Corpus.scrub(df, "text")
      .select("doc_id", "n_emails", "n_urls", "text_clean")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 0L, "write to <EMAIL> for info")))
    assert(out(2L) == ((0L, 2L, "docs at <URL> and <URL>")))
    assert(out(3L) == ((0L, 0L, "no pii here at all")))
  }
}

class StreamingScrubSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  test("scrub is stream-transparent: streaming output equals the batch pass") {
    // scrub is a map-only projection, so it must compose with Structured
    // Streaming unchanged (no watermark, no state) — the shape every
    // stateless corpus op (quality signals, sampling filters, scrubbing)
    // shares. Append-mode memory sink over the parquet corpus must equal
    // the batch result row-for-row.
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft-scrub-stream-").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("n_emails"), col("n_urls"),
        graft.functions.Text.hash48Builtin(col("text_clean")).as("h"))
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), r.getLong(3))).toSet
    val streamed = graft.streaming.StreamingOps.runToMemory(spark, dir,
      "scrub_stream_test",
      df => graft.operators.Corpus.scrub(df, "text"),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = graft.operators.Corpus.scrub(
      graft.queries.Common.table(spark, sf, "documents"), "text")
    assert(key(streamed) == key(batch),
      "streaming scrub must equal the batch pass row-for-row")
    assert(key(batch).nonEmpty)
  }
}

class RetrievalSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Retrieval

  test("bm25 matches the hand-computed Okapi scores on a tiny corpus") {
    val docs = Seq(
      (1L, "a b a"), (2L, "a c"), (3L, "d d d"), (4L, "b c b")
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25(docs, Seq("q" -> Seq("a", "d")), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // N=4, dl = (3,2,3,3), avgdl = 11/4; df(a)=2, df(d)=1
    val avgdl = 11.0 / 4.0
    def tfs(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))
    // the r11 contract: idf_micro is a driver-side literal, the engine
    // chain is floor(idf_micro * tf_sat + 0.5)
    def s(tf: Double, dl: Double, df: Long) =
      math.floor(Retrieval.idfMicro(4L, df).toDouble * tfs(tf, dl) + 0.5).toLong
    val expect = Seq(
      (1L, s(2, 3, 2)),              // doc 1: "a" twice
      (2L, s(1, 2, 2)),              // doc 2: "a" once, shorter doc
      (3L, s(3, 3, 1))).map { case (id, sc) => id -> sc }.toMap
    assert(got.map(r => r._1 -> r._3).toMap == expect)
    // doc 4 contains no query term and must be absent
    assert(!got.exists(_._1 == 4L))
    // ranks follow (score desc, id): doc 3 (rare term, tf 3) first
    val byRank = got.sortBy(_._2).map(_._1)
    assert(byRank.head == 3L)
  }

  test("bm25 respects k and breaks score ties by doc id") {
    val docs = Seq(
      (10L, "x y"), (11L, "x y"), (12L, "x y"), (13L, "z")
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25(docs, Seq("q" -> Seq("x")), k = 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((10L, 1L), (11L, 2L)),
      "identical docs tie on score; rank must fall back to doc id")
  }

  test("bm25 scores multiple queries independently in one pass") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Retrieval.bm25(docs,
        Seq("qa" -> Seq("a"), "qb" -> Seq("c")), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("qa", 1L), ("qb", 2L)))
  }

  test("index-served bm25 is identical to the in-memory pass") {
    val docs = graft.queries.Common.table(spark,
      "/root/testdata/sf0.001", "documents")
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"))
    val tmp = java.nio.file.Files.createTempDirectory("retr_idx").toString
    Retrieval.buildIndex(docs, tmp, nBuckets = 16)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val mem = key(Retrieval.bm25(docs, qs, k = 10))
    val idx = key(Retrieval.searchIndex(spark, tmp, qs, k = 10))
    assert(idx == mem, "serving from the persisted index must be bit-equal")
    assert(mem.nonEmpty)
    // the pruned scan touches only the query terms' bucket directories
    val allBuckets = new java.io.File(s"$tmp/postings").listFiles()
      .count(_.getName.startsWith("bucket="))
    val queryBuckets = qs.flatMap(_._2).distinct
      .map(t => graft.functions.Vec.hash48(t) % 16).distinct.size
    assert(queryBuckets < allBuckets,
      "the identity must exercise a genuinely pruned scan")
  }

  test("distributed-batch index serve is bit-identical to the Seq serve") {
    val docs = graft.queries.Common.table(spark,
      "/root/testdata/sf0.001", "documents")
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"),
      // a term absent from the corpus exercises the df=0 left-join path
      "qc" -> Seq("zzznosuchterm", "spark"))
    val tmp = java.nio.file.Files.createTempDirectory("retr_batch").toString
    Retrieval.buildIndex(docs, tmp, nBuckets = 16)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val seqServe = key(Retrieval.searchIndex(spark, tmp, qs, k = 10))
    import spark.implicits._
    val batchServe = key(Retrieval.searchIndexBatch(spark, tmp,
      qs.toDF("q_id", "terms"), k = 10))
    assert(batchServe == seqServe,
      "distributed-batch serve diverged from the Seq serve")
    assert(seqServe.nonEmpty)
  }

  test("appended index serves bit-identical results to a one-shot build") {
    val docs = graft.queries.Common.table(spark,
      "/root/testdata/sf0.001", "documents")
    val half = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val grown = java.nio.file.Files.createTempDirectory("retr_grow").toString
    Retrieval.buildIndex(docs.where(col("doc_id") <= half), grown, nBuckets = 16)
    Retrieval.appendToIndex(spark, grown, docs.where(col("doc_id") > half))
    val oneShot = java.nio.file.Files.createTempDirectory("retr_full").toString
    Retrieval.buildIndex(docs, oneShot, nBuckets = 16)
    assert(key(Retrieval.searchIndex(spark, grown, qs, k = 10)) ==
      key(Retrieval.searchIndex(spark, oneShot, qs, k = 10)),
      "grown index diverged from the one-shot build")
    // the merged stats are additive: df summed across batches for terms
    // present in BOTH halves, totals equal the one-shot build's
    val sG = spark.read.parquet(graft.operators.IndexFiles.tablePath(spark, grown, "stats"))
    val sO = spark.read.parquet(graft.operators.IndexFiles.tablePath(spark, oneShot, "stats"))
    val dfG = sG.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfO = sO.select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfG == dfO, "per-term df must merge additively")
    assert(sG.select("n_docs", "sum_dl").head() ==
      sO.select("n_docs", "sum_dl").head())
    // a term present in both halves proves the merge path (not just union)
    val bothHalves = docs
      .select(col("doc_id") <= half as "lo",
        explode(graft.functions.Text.tokens(col("text"))) as "t")
      .groupBy("t").agg(countDistinct(when(col("lo"), 1)).as("a"),
        countDistinct(when(!col("lo"), 1)).as("b"))
      .where(col("a") > 0 && col("b") > 0).count()
    assert(bothHalves > 0, "fixture must exercise the df-merge path")
  }

  test("compactIndex: one file per bucket, identical serve; replay repair") {
    val docs = graft.queries.Common.table(spark,
      "/root/testdata/sf0.001", "documents")
    val half = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    val qs = Seq("qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    import graft.operators.IndexFiles
    val dir = java.nio.file.Files.createTempDirectory("retr_cpt").toString
    Retrieval.buildIndex(docs.where(col("doc_id") <= half), dir, nBuckets = 16)
    val batch = docs.where(col("doc_id") > half)
    Retrieval.appendToIndex(spark, dir, batch)
    val before = key(Retrieval.searchIndex(spark, dir, qs, k = 10))
    val filesBefore = IndexFiles.dataFileCount(spark, dir, "postings")
    Retrieval.compactIndex(spark, dir)
    assert(IndexFiles.dataFileCount(spark, dir, "postings") < filesBefore,
      "compaction must shrink the postings file count")
    assert(key(Retrieval.searchIndex(spark, dir, qs, k = 10)) == before,
      "layout compaction changed serve results")
    // at-least-once replay: the SAME batch appended again double-counts
    // postings and stats; compactIndex(dedupeRows = true) must restore
    // exactly the pre-replay index (results AND stats)
    Retrieval.appendToIndex(spark, dir, batch)
    Retrieval.compactIndex(spark, dir, dedupeRows = true)
    assert(key(Retrieval.searchIndex(spark, dir, qs, k = 10)) == before,
      "replay repair diverged from the pre-replay serve results")
    val clean = java.nio.file.Files.createTempDirectory("retr_cln").toString
    Retrieval.buildIndex(docs, clean, nBuckets = 16)
    val sG = spark.read.parquet(IndexFiles.tablePath(spark, dir, "stats"))
      .select("term", "df", "n_docs", "sum_dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val sC = spark.read.parquet(IndexFiles.tablePath(spark, clean, "stats"))
      .select("term", "df", "n_docs", "sum_dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(sG == sC, "repaired stats differ from a clean build's")
  }

  test("streamed indexing converges to the one-shot build (indexDocuments)") {
    val root = java.nio.file.Files.createTempDirectory("graft-sidx-").toString
    val seed = Seq((0L, "alpha beta gamma"), (1L, "beta delta"))
      .toDF("doc_id", "text")
    val batches = Seq(
      Seq((10L, "alpha alpha epsilon"), (11L, "gamma zeta")),
      Seq((20L, "beta beta beta")),
      Seq((30L, "delta epsilon alpha"), (31L, "zeta zeta")))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/b${i + 1}") }
    val streamIdx = s"$root/stream/index"
    Retrieval.buildIndex(seed, streamIdx, nBuckets = 8)
    val schema = spark.read.parquet(s"$root/in/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in/{b1,b2,b3}")
    val q = graft.streaming.StreamingOps.indexDocuments(stream, streamIdx)
      .option("checkpointLocation", s"$root/stream/ckpt").start()
    q.processAllAvailable(); q.stop()
    val oneShot = s"$root/full/index"
    Retrieval.buildIndex(
      seed.unionByName(batches.flatten.toDF("doc_id", "text")),
      oneShot, nBuckets = 8)
    val qs = Seq("qa" -> Seq("alpha", "beta"), "qb" -> Seq("zeta", "delta"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val got = key(Retrieval.searchIndex(spark, streamIdx, qs, k = 10))
    assert(got == key(Retrieval.searchIndex(spark, oneShot, qs, k = 10)),
      "streamed index diverged from the one-shot build")
    assert(got.nonEmpty)
  }
}

class PackSequencesSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Corpus

  private val rows = Seq(
    // group g1: weights 5, 3, 9 -> token stream of 17, seqLen 4
    ("g1", 1L, 5L), ("g1", 2L, 3L), ("g1", 3L, 9L),
    // group g2: a zero-weight row (must vanish) and one spanning row
    ("g2", 10L, 0L), ("g2", 11L, 10L))

  private def packed = Corpus.packSequences(
    rows.toDF("src", "id", "w"), "w", seqLen = 4,
    orderCol = "id", groupCols = Seq("src"))
    .select("src", "id", "seq", "tok_start", "tok_len")
    .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4)))

  test("packSequences covers every document exactly once") {
    val bySrcId = packed.groupBy(p => (p._1, p._2))
    rows.filter(_._3 > 0).foreach { case (src, id, w) =>
      val slices = bySrcId((src, id)).sortBy(_._3)
      assert(slices.map(_._5).sum == w, s"$src/$id: slice lengths must sum to weight")
      assert(slices.head._4 == 0L, s"$src/$id: first slice starts at token 0")
      // slices are contiguous in both sequence id and token offset
      slices.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._3 + 1, s"$src/$id: sequence ids contiguous")
          assert(b._4 == a._4 + a._5, s"$src/$id: token offsets contiguous")
        case _ =>
      }
    }
    assert(!packed.exists(_._2 == 10L), "zero-weight rows emit no slices")
  }

  test("packSequences fills every sequence except a group's last") {
    packed.groupBy(_._1).foreach { case (src, ps) =>
      val bySeq = ps.groupBy(_._3)
      val last = bySeq.keySet.max
      assert(bySeq.keySet.min == 0L, s"$src: sequences start at 0")
      bySeq.foreach { case (seq, slices) =>
        val total = slices.map(_._5).sum
        if (seq < last) assert(total == 4L, s"$src seq $seq holds $total != 4")
        else assert(total <= 4L, s"$src last seq overfilled")
      }
    }
  }
}

class SemanticDedupSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Similarity

  // two well-separated directions with small per-vector jitter, plus one
  // exact duplicate of vector 1 under a larger id
  private def corpus = Seq(
    1L -> Array(1.0, 0.02, 0.0), 2L -> Array(1.0, -0.02, 0.01),
    3L -> Array(0.99, 0.0, 0.03),
    20L -> Array(0.0, 1.0, 0.02), 21L -> Array(0.01, 1.0, -0.02),
    99L -> Array(1.0, 0.02, 0.0)
  ).toDF("vec_id", "embedding")

  test("semanticDedup drops the larger-id duplicate, keeps the rest") {
    val kept = Similarity.semanticDedup(corpus, k = 2, threshold = 0.9999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!kept.contains(99L), "exact duplicate of id 1 must drop")
    assert(kept.keySet == Set(1L, 2L, 3L, 20L, 21L))
    // cluster ids match a driver-side mirror of the documented algorithm:
    // seeds = k smallest hash48("sem"||id), assignment = argmax cosine
    // with ties to the first seed
    val all = corpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val seedIds = all.keys.toSeq
      .sortBy(id => (graft.functions.Vec.hash48("sem" + id), id)).take(2)
    def cos(a: IndexedSeq[Double], b: IndexedSeq[Double]) = {
      def dot(x: IndexedSeq[Double], y: IndexedSeq[Double]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p * q }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    kept.foreach { case (id, cl) =>
      val cosines = seedIds.map(sid => cos(all(id), all(sid)))
      assert(cl == cosines.indexOf(cosines.max),
        s"id $id: cluster $cl != mirrored argmax")
    }
  }

  test("semanticDedup keeps pairs below the threshold") {
    val kept = Similarity.semanticDedup(corpus, k = 2, threshold = 1.1)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 20L, 21L, 99L),
      "an unreachable threshold must drop nothing")
  }

  test("semanticDedup is deterministic across runs") {
    def run() = Similarity.semanticDedup(corpus, k = 3, threshold = 0.999,
        salt = "s2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  test("native-argmax assignment agrees with the cosine chain") {
    // distinct jittered vectors only (an exact-duplicate pair could be
    // picked as TWO seeds, whose cosines tie exactly — the one case where
    // the documented tie rules legitimately differ)
    val distinctCorpus = corpus.where(col("vec_id") =!= 99L)
    def run(from: Int) = Similarity.semanticDedup(distinctCorpus, k = 3,
        threshold = 0.9999, nativeAssignFrom = from)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(1) == run(100),
      "both assignment paths must produce identical clusters off ties")
  }
}

class RepeatedSpansSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  // Fillers (u/v/w/x/y/r tokens) are globally unique across docs, so the
  // ONLY cross-doc repeated 5-grams are the planted shared regions.
  private val docs = Seq(
    (1L, "u1 u2 b1 b2 b3 b4 b5 b6 b7 u3 u4"),              // boiler at pos 2
    (2L, "v1 b1 b2 b3 b4 b5 b6 b7 v2 v3 v4"),              // boiler at pos 1
    (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),                       // unique
    (4L, "r1 r2 r3 r4 r5 z9 r1 r2 r3 r4 r5"),              // within-doc repeat only
    (5L, "p1 p2 p3 p4 p5 x1 x2 x3 x4 x5 x6 q1 q2 q3 q4 q5"),
    (6L, "p1 p2 p3 p4 p5 y1 y2 y3 y4 y5 y6 q1 q2 q3 q4 q5")
  ).toDF("doc_id", "text")

  private def spans() = Dedup.repeatedSpans(docs, "doc_id", "text", n = 5)
    .orderBy("doc_id", "span_start")
    .select("doc_id", "span_start", "span_len", "n_grams")
    .as[(Long, Long, Long, Long)].collect().toSeq

  test("shared 7-token boilerplate merges its 3 windows into one span") {
    val got = spans().filter(s => s._1 == 1L || s._1 == 2L)
    assert(got == Seq((1L, 2L, 7L, 3L), (2L, 1L, 7L, 3L)))
  }

  test("unique docs and within-doc-only repeats produce no spans") {
    // minDocs counts DISTINCT documents: doc 4's own repeated 5-gram
    // must not flag it
    assert(!spans().exists(s => s._1 == 3L || s._1 == 4L))
  }

  test("shared regions separated by a gap > n stay separate islands") {
    val got = spans().filter(s => s._1 == 5L || s._1 == 6L)
    assert(got == Seq((5L, 0L, 5L, 1L), (5L, 11L, 5L, 1L),
      (6L, 0L, 5L, 1L), (6L, 11L, 5L, 1L)))
  }

  test("stripRepeatedSpans removes spans and rebuilds the survivors") {
    val got = Dedup.stripRepeatedSpans(docs, "doc_id", "text", n = 5)
      .select("doc_id", "text_clean", "n_dropped")
      .as[(Long, String, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(1L) == (("u1 u2 u3 u4", 7L)))
    assert(got(2L) == (("v1 v2 v3 v4", 7L)))
    assert(got(3L) == (("w1 w2 w3 w4 w5 w6 w7 w8", 0L))) // untouched
    assert(got(5L) == (("x1 x2 x3 x4 x5 x6", 10L)))
  }

  test("a fully-covered exact duplicate strips to the empty string") {
    val dups = Seq(
      (10L, "m1 m2 m3 m4 m5 m6"),
      (11L, "m1 m2 m3 m4 m5 m6"),
      (12L, "k1 k2 k3 k4 k5 k6")
    ).toDF("doc_id", "text")
    val got = Dedup.stripRepeatedSpans(dups, "doc_id", "text", n = 5)
      .select("doc_id", "text_clean", "n_dropped")
      .as[(Long, String, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(10L) == (("", 6L)) && got(11L) == (("", 6L)))
    assert(got(12L) == (("k1 k2 k3 k4 k5 k6", 0L)))
  }
}

class ImportanceWeightsSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side mirror of Text.hash48 % P (md5 first 12 hex chars). */
  private def hashMod(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.take(6).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % graft.functions.Text.P
  }

  /** Reference implementation: features, bucket stats, smoothed
    * log-ratio integerized to micro BEFORE the per-doc sum.
    */
  private def reference(docs: Seq[(Long, String, Boolean)], b: Int,
      alpha: Double): Map[Long, Long] = {
    val feats = docs.flatMap { case (id, text, tgt) =>
      val tk = text.split("\\s+").toSeq
      val f = tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      f.map(s => (id, tgt, hashMod(s) % b))
    }
    val rawT = feats.size.toDouble
    val tgtT = feats.count(_._2).toDouble
    val lam = feats.groupBy(_._3).map { case (bk, fs) =>
      val rawN = fs.size
      val tgtN = fs.count(_._2)
      bk -> math.round(1e6 * (math.log((tgtN + alpha) / (tgtT + alpha * b)) -
        math.log((rawN + alpha) / (rawT + alpha * b))))
    }
    docs.map { case (id, _, _) => id -> 0L }.toMap ++
      feats.groupBy(_._1).map { case (id, fs) =>
        id -> fs.map(f => lam(f._3)).sum
      }
  }

  private val docs = Seq(
    (1L, "spark join merge spark window", true),
    (2L, "spark join scan batch", true),
    (3L, "vector stream line batch line", false),
    (4L, "merge window spark join", false),
    (5L, "solo", true)
  )

  test("weights equal the driver-side mirror exactly, for every doc") {
    val df = docs.toDF("doc_id", "text", "is_tgt")
    val got = graft.operators.Corpus
      .importanceWeights(df, "doc_id", "text", col("is_tgt"), nBuckets = 1024)
      .as[(Long, Long)].collect().toMap
    assert(got == reference(docs, 1024, 0.5))
  }

  test("target-like docs outscore raw-only docs") {
    val df = docs.toDF("doc_id", "text", "is_tgt")
    val got = graft.operators.Corpus
      .importanceWeights(df, "doc_id", "text", col("is_tgt"), nBuckets = 1024)
      .as[(Long, Long)].collect().toMap
    // doc 3's features live only in non-target buckets; doc 2's only in
    // target-heavy ones
    assert(got(2L) > got(3L))
  }

  test("weights equal the mirror on 10 random corpora") {
    (1 to 10).foreach { seed =>
      val r = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"t$i")
      val rnd = (0L until (4 + r.nextInt(8)).toLong).map { id =>
        (id, Seq.fill(1 + r.nextInt(10))(vocab(r.nextInt(vocab.size)))
          .mkString(" "), r.nextBoolean())
      }
      val got = graft.operators.Corpus
        .importanceWeights(rnd.toDF("doc_id", "text", "is_tgt"),
          "doc_id", "text", col("is_tgt"), nBuckets = 256)
        .as[(Long, Long)].collect().toMap
      assert(got == reference(rnd, 256, 0.5), s"seed $seed diverges")
    }
  }

  test("a null-text doc scores 0 and still appears in the output") {
    val df = Seq((1L, "spark join", true), (2L, null, false))
      .toDF("doc_id", "text", "is_tgt")
    val got = graft.operators.Corpus
      .importanceWeights(df, "doc_id", "text", col("is_tgt"), nBuckets = 64)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L) && got(2L) == 0L)
  }
}

class LmScoreSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side mirror of Corpus.lmScore (bigram Stupid Backoff). */
  private def reference(docs: Seq[(Long, String, Boolean)],
      backoff: Double): Map[Long, (Long, Long)] = {
    def toks(t: String) = t.split("\\s+").toSeq
    val train = docs.filter(_._3)
    val c1 = train.flatMap(d => toks(d._2)).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val c2 = train.flatMap(d => toks(d._2).sliding(2).filter(_.size == 2))
      .groupBy(identity).map { case (b, bs) => (b(0), b(1)) -> bs.size.toLong }
    val n = c1.values.sum.toDouble
    val v = c1.size.toDouble
    docs.map { case (id, text, _) =>
      val bgs = toks(text).sliding(2).filter(_.size == 2).toSeq
      val s = bgs.map { b =>
        val score = c2.get((b(0), b(1))) match {
          case Some(cc) => math.log(cc.toDouble / c1(b(0)).toDouble)
          case None => math.log(backoff * (c1.getOrElse(b(1), 0L) + 0.5)
            / (n + 0.5 * v))
        }
        math.round(1e6 * score)
      }.sum
      id -> (bgs.size.toLong, s)
    }.toMap
  }

  private val docs = Seq(
    (1L, "spark join merge spark join", true),
    (2L, "spark join spark merge", true),
    (3L, "vector stream line batch", false),   // mostly OOV bigrams
    (4L, "merge spark join merge", false),
    (5L, "solo", true)                         // no bigrams
  )

  test("scores equal the driver-side Stupid Backoff mirror exactly") {
    val got = graft.operators.Corpus
      .lmScore(docs.toDF("doc_id", "text", "is_tr"), "doc_id", "text",
        col("is_tr"))
      .select("doc_id", "n_bigrams", "lm_micro")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == reference(docs, 0.4))
  }

  test("in-domain text outscores OOV text per bigram") {
    val got = graft.operators.Corpus
      .lmScore(docs.toDF("doc_id", "text", "is_tr"), "doc_id", "text",
        col("is_tr"))
      .select("doc_id", "n_bigrams", "lm_micro")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> t._3.toDouble / t._2).toMap
    assert(got(1L) > got(3L), "train-domain doc must beat the OOV doc")
  }

  test("an empty training subset degenerates to all-zero scores") {
    val got = graft.operators.Corpus
      .lmScore(docs.toDF("doc_id", "text", "is_tr"), "doc_id", "text",
        lit(false))
      .select("doc_id", "n_bigrams", "lm_micro")
      .as[(Long, Long, Long)].collect()
    assert(got.forall(_._3 == 0L), "every score must normalize to 0")
    assert(got.find(_._1 == 1L).get._2 == 4L, "bigram counts stay real")
  }

  test("scores equal the mirror on 10 random corpora") {
    (1 to 10).foreach { seed =>
      val r = new scala.util.Random(seed + 100)
      val vocab = (0 until 10).map(i => s"v$i")
      val rnd = (0L until (4 + r.nextInt(8)).toLong).map { id =>
        (id, Seq.fill(1 + r.nextInt(12))(vocab(r.nextInt(vocab.size)))
          .mkString(" "), r.nextBoolean())
      }
      // guarantee a non-empty training subset (the documented contract)
      val withTrain = if (rnd.exists(_._3)) rnd
        else rnd.updated(0, (rnd(0)._1, rnd(0)._2, true))
      val got = graft.operators.Corpus
        .lmScore(withTrain.toDF("doc_id", "text", "is_tr"), "doc_id",
          "text", col("is_tr"))
        .select("doc_id", "n_bigrams", "lm_micro")
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(got == reference(withTrain, 0.4), s"seed $seed diverges")
    }
  }

  test("a doc with no bigrams scores (0, 0)") {
    val got = graft.operators.Corpus
      .lmScore(docs.toDF("doc_id", "text", "is_tr"), "doc_id", "text",
        col("is_tr"))
      .where(col("doc_id") === 5L)
      .select("n_bigrams", "lm_micro").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((0L, 0L)))
  }
}

/** Property lock for the span-dedup family: 20 seeded random corpora vs a
  * brute-force driver reference (the DedupSpec union-find-oracle
  * discipline) — repeated-window detection, interval merging, and the
  * strip/rebuild are pinned end to end.
  */
class RepeatedSpansPropertySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val n = 4

  /** Brute-force reference: per doc, the merged maximal spans of windows
    * whose token n-gram occurs in >= 2 distinct documents.
    */
  private def reference(docs: Seq[(Long, String)])
      : (Map[Long, Seq[(Long, Long)]], Map[Long, String]) = {
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val gramDocs = docs.flatMap { case (id, _) =>
      toks(id).sliding(n).filter(_.size == n).map(g => (g.mkString(" "), id))
    }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val spans = docs.map { case (id, _) =>
      val hits = toks(id).sliding(n).zipWithIndex
        .filter { case (g, _) => g.size == n && gramDocs(g.mkString(" ")) >= 2 }
        .map(_._2).toSeq
      val merged = hits.foldLeft(Vector.empty[(Int, Int)]) {
        case (acc, p) if acc.nonEmpty && p <= acc.last._2 =>
          acc.init :+ (acc.last._1, math.max(acc.last._2, p + n))
        case (acc, p) => acc :+ (p, p + n)
      }
      id -> merged.map { case (a, b) => (a.toLong, (b - a).toLong) }
    }.toMap
    val clean = docs.map { case (id, _) =>
      val covered = spans(id).flatMap { case (a, l) => a until a + l }.toSet
      id -> toks(id).zipWithIndex.collect {
        case (w, i) if !covered(i) => w }.mkString(" ")
    }.toMap
    (spans, clean)
  }

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    val vocab = (0 until 8).map(i => s"w$i") // tiny vocab -> dense repeats
    (0L until (3 + r.nextInt(6)).toLong).map { id =>
      id -> Seq.fill(r.nextInt(14))(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
  }

  test("spans and strip equal the brute-force reference on 20 random corpora") {
    (1 to 20).foreach { seed =>
      val docs = corpus(seed)
      val (expSpans, expClean) = reference(docs)
      val df = docs.toDF("doc_id", "text")
      val gotSpans = Dedup.repeatedSpans(df, "doc_id", "text", n)
        .select("doc_id", "span_start", "span_len")
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (id, xs) =>
          id -> xs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
      assert(gotSpans == expSpans.filter(_._2.nonEmpty),
        s"seed $seed spans diverge")
      val gotClean = Dedup.stripRepeatedSpans(df, "doc_id", "text", n)
        .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
      assert(gotClean == expClean, s"seed $seed strip diverges")
    }
  }
}
