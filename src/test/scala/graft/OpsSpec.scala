package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog tail"), // near dup
    (4L, "completely different content about spark engines and indexes here"),
    (5L, "der hund und die katze das ist gut und schoen ist es")
  ).toDF("doc_id", "text")

  test("exact dedup finds identical docs only") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("n_docs") === 2)
    assert(g.head.getAs[Long]("min_doc_id") === 1 && g.head.getAs[Long]("max_doc_id") === 2)
  }

  test("jaccard pairs rank near-dups above unrelated docs") {
    val p = Dedup.jaccardPairs(docs, n = 3, threshold = 0.3).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    assert(p.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
    assert(p.exists { case (a, b, _) => a == 1 && b == 3 })
    assert(!p.exists { case (a, b, _) => b == 4 || a == 4 })
  }

  test("jaccard df-cap drops pairs held together only by a boilerplate shingle") {
    import spark.implicits._
    // 6 docs sharing one boilerplate 3-shingle (df=6) plus unique tails:
    // uncapped, every pair is a candidate; with the cap below 6, the
    // boilerplate shingle leaves the relation and no pair survives
    val boiler = (0L until 6L).map(i =>
      (i, s"legal header text unique$i tail$i word$i")).toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairs(boiler, n = 3, threshold = 0.1,
      maxShingleDf = 1000L).count()
    val capped = Dedup.jaccardPairs(boiler, n = 3, threshold = 0.1,
      maxShingleDf = 5L).count()
    assert(uncapped === 15) // all C(6,2) pairs share the boilerplate shingle
    assert(capped === 0)
  }

  test("duplicate clusters: transitive min-label propagation over pairs") {
    import spark.implicits._
    // chain 1-2-3 plus isolated pair 7-9: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val c = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("duplicate clusters: deep chain converges via star rounds + early stop") {
    import spark.implicits._
    // a 12-node chain (diameter 11) needs several large-star / small-star
    // alternations and stops at the first star forest: labels must land on
    // the component min within the default maxIter (driver bound 0: the
    // distributed rounds, not the union-find)
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val c = Dedup.duplicateClusters(chain, 10, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === (1L to 12L).map(_ -> 1L).toMap)
    // maxIter bounds only the rounds: one alternation cannot settle the
    // chain, the driver path answers it whatever maxIter is
    intercept[IllegalArgumentException](Dedup.duplicateClusters(chain, 1, 0L))
    assert(Dedup.duplicateClusters(chain, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === c)
  }

  test("duplicate clusters: a 200-node scattered-id chain converges at the default maxIter") {
    import spark.implicits._
    // scattered ids along a long path: the rounds must settle within the
    // default 10 and agree with the driver union-find
    for (seed <- Seq(3, 11)) {
      val ids = new scala.util.Random(seed).shuffle((0 until 200).map(i => 7L + 13L * i))
      val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
      val rounds = Dedup.duplicateClusters(chain, 10, 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rounds === ids.map(_ -> 7L).toMap, s"seed $seed")
      assert(rounds === Dedup.duplicateClusters(chain).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap, s"seed $seed")
    }
  }

  /** Connected components by breadth-first search: id -> component min. */
  private def componentsOracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    adj.keys.map { start =>
      val seen = scala.collection.mutable.Set(start)
      var frontier = List(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).filter(seen.add)
      }
      start -> seen.min
    }.toMap
  }

  /** A seeded graph over scattered ids: a chain, a star, a clique, disjoint
    * pairs and random extra edges, with some edges repeated and some
    * reversed.
    */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    val ids = rng.shuffle((0 until 400).map(i => 7L + 13L * i)).toIndexedSeq
    var next = 0
    def take(k: Int): IndexedSeq[Long] = { val xs = ids.slice(next, next + k); next += k; xs }
    val chain = take(4 + rng.nextInt(9)).sliding(2).map(p => (p(0), p(1))).toSeq
    val star = { val xs = take(3 + rng.nextInt(20)); xs.tail.map(x => (xs.head, x)) }
    val clique = { val xs = take(3 + rng.nextInt(6)); for (x <- xs; y <- xs if x < y) yield (x, y) }
    val disjoint = (0 until 1 + rng.nextInt(15)).map { _ => val p = take(2); (p(0), p(1)) }
    val loose = take(60)
    val extra = Seq.fill(rng.nextInt(40))((loose(rng.nextInt(60)), loose(rng.nextInt(60))))
      .filter { case (x, y) => x != y }
    val all = rng.shuffle(chain ++ star ++ clique ++ disjoint ++ extra)
    val dups = all.take(rng.nextInt(10))
    val reversed = all.takeRight(rng.nextInt(10)).map(_.swap)
    rng.shuffle(all ++ dups ++ reversed)
  }

  /** Clusters through the driver path and through the rounds: equal rows,
    * column names, types and nullability; returns the driver answer.
    */
  private def bothPaths(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val local = Dedup.duplicateClusters(pairs)
    val rounds = Dedup.duplicateClusters(pairs, 10, 0L)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation])
    // (an empty input stays an empty local relation on either path)
    if (!pairs.isEmpty) assert(!rounds.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(local.schema === rounds.schema)
    val rows = local.collect()
    assert(rows.toSet === rounds.collect().toSet)
    rows.map(r => r.get(0).asInstanceOf[Number].longValue -> r.get(1).asInstanceOf[Number].longValue).toMap
  }

  test("duplicate clusters: driver union-find equals the distributed rounds") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val g = randomGraph(seed)
      val expected = componentsOracle(g)
      assert(bothPaths(g.toDF("a", "b")) === expected, s"seed $seed, Long ids")
      assert(bothPaths(g.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b")) === expected,
        s"seed $seed, Int ids")
    }
    // nullable id columns keep their nullability on both paths
    val g = randomGraph(7)
    assert(bothPaths(g.map { case (a, b) => (Option(a), Option(b)) }.toDF("a", "b")) ===
      componentsOracle(g))
    assert(bothPaths(Seq.empty[(Long, Long)].toDF("a", "b")) === Map.empty)
    assert(bothPaths(Seq((5L, 5L), (9L, 3L), (3L, 9L)).toDF("a", "b")) ===
      Map(5L -> 5L, 3L -> 3L, 9L -> 3L))
  }

  test("duplicate clusters: MaxDriverEdges edges stay on the driver, one more runs the rounds") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val n = Dedup.MaxDriverEdges
    def pairs(k: Long) = spark.range(k).select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b"))
    val atBound = Dedup.duplicateClusters(pairs(n))
    val past = Dedup.duplicateClusters(pairs(n + 1))
    assert(atBound.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(!past.queryExecution.analyzed.isInstanceOf[LocalRelation])
    // every pair (2i, 2i + 1) is its own component, labelled 2i
    for ((c, k) <- Seq(atBound -> n, past -> (n + 1))) {
      assert(c.count() === 2 * k)
      assert(c.filter(col("cluster") =!= col("doc_id") - col("doc_id") % 2).count() === 0)
    }
  }

  test("jaccard pairs: exact counts match a brute-force shingle computation") {
    import spark.implicits._
    // r6 rewrote pair generation as in-row posting-list enumeration; pin
    // the exact (a, b, jaccard) relation against a direct computation of
    // distinct 3-shingle sets on a corpus with overlapping tails
    val texts = (0L until 8L).map { i =>
      val shared = "alpha beta gamma delta"
      val tail = if (i % 2 == 0) s"even tail $i x" else s"odd tail $i y"
      (i, s"$shared $tail")
    }
    def shingles3(t: String): Set[String] =
      t.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val expected = (for {
      (a, ta) <- texts; (b, tb) <- texts if a < b
      sa = shingles3(ta); sb = shingles3(tb)
      common = (sa intersect sb).size
      j = common.toDouble / (sa.size + sb.size - common) if j >= 0.1
    } yield (a, b, BigDecimal(j).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.jaccardPairs(texts.toDF("doc_id", "text"), n = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  /** [[Dedup.jaccardPairs]] computed directly in Scala: distinct n-token
    * shingles per doc, shingles in more than `maxShingleDf` docs dropped
    * from every set, then common / union per pair sharing a shingle,
    * rounded to 4 dp HALF_UP from the double quotient, kept when >=
    * `threshold`. Texts are space-separated lowercase tokens.
    */
  private def jaccardOracle(texts: Seq[(Long, String)], n: Int, threshold: Double,
                            maxShingleDf: Long): Set[(Long, Long, Double)] = {
    val sets0 = texts.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSeq.sliding(n)
        .filter(_.size == n).map(_.mkString(" ")).toSet
    }
    val df = sets0.flatMap(_._2).groupBy(identity).map { case (sh, xs) => sh -> xs.size }
    val sets = sets0.map { case (id, sh) => id -> sh.filter(df(_) <= maxShingleDf) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      common = (sa intersect sb).size if common > 0
      j = BigDecimal(common.toDouble / (sa.size + sb.size - common))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble if j >= threshold
    } yield (a, b, j)).toSet
  }

  private def jaccardGot(texts: Seq[(Long, String)], n: Int, threshold: Double,
                         maxShingleDf: Long): Set[(Long, Long, Double)] = {
    import spark.implicits._
    Dedup.jaccardPairs(texts.toDF("doc_id", "text"), n, threshold, maxShingleDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("jaccard pairs: seeded random corpora match the brute-force oracle") {
    // near-duplicate families over a small vocabulary (many shared
    // shingles, skewed df) plus a boilerplate opening in a third of the
    // docs, so the df cap drops shingles from some sets and not others
    for ((seed, n, threshold, cap) <- Seq((1, 1, 0.3, 1000L), (2, 2, 0.5, 4L),
        (3, 3, 0.2, 1000L), (4, 2, 0.4, 2L), (5, 3, 0.6, 6L), (6, 1, 0.5, 12L))) {
      val rng = new scala.util.Random(seed)
      val vocab = (0 until 12).map(i => s"w$i")
      val bases = Seq.fill(4)(Seq.fill(8 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))))
      val ids = rng.shuffle((0 until 24).map(i => 1000L + 37L * i))
      val texts = ids.map { id =>
        val base = bases(rng.nextInt(bases.size)).toBuffer
        for (_ <- 0 until rng.nextInt(4)) rng.nextInt(3) match {
          case 0 => base(rng.nextInt(base.size)) = vocab(rng.nextInt(vocab.size))
          case 1 => base.insert(rng.nextInt(base.size + 1), vocab(rng.nextInt(vocab.size)))
          case _ => if (base.size > 1) base.remove(rng.nextInt(base.size))
        }
        val boiler = if (rng.nextInt(3) == 0) Seq("legal", "header", "text") else Nil
        id -> (boiler ++ base).mkString(" ")
      }
      val expected = jaccardOracle(texts, n, threshold, cap)
      assert(expected.nonEmpty, s"seed $seed: the corpus must produce pairs")
      assert(jaccardGot(texts, n, threshold, cap) === expected,
        s"seed $seed n=$n threshold=$threshold maxShingleDf=$cap")
    }
  }

  test("jaccard pairs: the 4-dp HALF_UP boundary at n = 1") {
    // (a, b): 5,000 common of a 10,001 union = 0.49995000..., which
    // rounds to 0.5 and is reported at threshold 0.5; (c, d): 4,999 /
    // 10,001 rounds to 0.4999 and is not
    def toks(p: String, r: Range): Seq[String] = r.map(i => s"$p$i")
    val texts = Seq(
      1L -> toks("x", 0 until 7500).mkString(" "),
      2L -> (toks("x", 0 until 5000) ++ toks("x", 7500 to 10000)).mkString(" "),
      3L -> toks("y", 0 until 7500).mkString(" "),
      4L -> (toks("y", 0 until 4999) ++ toks("y", 7500 to 10000)).mkString(" "))
    assert(5000.0 / 10001 < 0.5)
    val expected = jaccardOracle(texts, 1, 0.5, 1000L)
    assert(expected === Set((1L, 2L, 0.5)))
    assert(jaccardGot(texts, 1, 0.5, 1000L) === expected)
  }

  test("jaccard pairs: prefix-filter worst cases match the brute-force oracle") {
    def toks(p: String, r: Range): Seq[String] = r.map(i => s"$p$i")
    // tight overlap: |A| = 14, t' * 14 = 6.9993, so A pairs only through its
    // first 14 - 7 + 1 = 8 shingles; B shares exactly ceil(t' * 14) = 7 of
    // them, and a third doc lifts those 7 to the highest df, so they sort
    // after A's 7 unique ones and exactly one reaches A's prefix
    val tight = Seq(
      1L -> (toks("u", 0 until 7) ++ toks("s", 0 until 7)).mkString(" "),
      2L -> toks("s", 0 until 7).mkString(" "),
      3L -> (toks("s", 0 until 7) ++ toks("v", 0 until 30)).mkString(" "))
    val tightExpected = jaccardOracle(tight, 1, 0.5, 1000L)
    assert(tightExpected.contains((1L, 2L, 0.5)))
    assert(jaccardGot(tight, 1, 0.5, 1000L) === tightExpected)
    // float boundary: (0.1438 - 0.00005) * 160 is 23 exactly, but the
    // double product lands just above 23; a plain ceiling would give 24 and
    // cut A's prefix to its 137 unique shingles, losing the pair sharing 23
    // (23 / 160 = 0.14375 rounds HALF_UP to 0.1438)
    val t = 0.1438
    val product = (t - 0.00005) * 160
    assert(product > 23 && product - 23 < 1e-9)
    val edge = Seq(
      1L -> (toks("u", 0 until 137) ++ toks("s", 0 until 23)).mkString(" "),
      2L -> toks("s", 0 until 23).mkString(" "))
    val edgeExpected = jaccardOracle(edge, 1, t, 1000L)
    assert(edgeExpected === Set((1L, 2L, 0.1438)))
    assert(jaccardGot(edge, 1, t, 1000L) === edgeExpected)
  }

  test("jaccard pairs leave no cached relation behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    val texts = (0L until 6L).map(i => (i, s"alpha beta gamma delta epsilon $i"))
    assert(Dedup.jaccardPairs(texts.toDF("doc_id", "text"), n = 2, threshold = 0.3)
      .collect().nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("near-dup keep set: one canonical per component plus unpaired docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "totally different content here indeed yes")
    ).toDF("doc_id", "text")
    val keep = Dedup.nearDupKeepSet(d, n = 3).collect().map(_.getLong(0)).toSet
    assert(keep === Set(1L, 3L))
  }

  test("minhash LSH surfaces exact dups as candidates") {
    val c = Dedup.lshCandidatePairs(docs, n = 3, nHashes = 8, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(c.contains((1L, 2L)))
    assert(!c.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) === sh(2L))
    val hammingNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hammingFar = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hammingNear <= hammingFar)
  }

  test("cosine top-k: identical vector scores 1, orthogonal scores 0") {
    val embs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (3L, Array(0.5f, 0.5f, 0f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.cosineTopK(embs, 0L, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(1L) === 1.0)
    assert(r(2L) === 0.0)
    assert(math.abs(r(3L) - 0.7071) < 1e-9)
  }

  test("embedding-cosine near-dup: bucketed pairs above tau; keep = canonical + unpaired") {
    val embs = Seq(
      (0L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
      (1L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 0.9f)), // near-dup of 0
      (2L, Array(0.9f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)), // near-dup of 0 and 1
      (3L, Array(1f, 0.01f, 0.01f, 0.01f, 0.01f, 0.01f, 0.01f, 1f)), // same bucket, cos ~0.5
      (4L, Array(-1f, -1f, -1f, -1f, -1f, -1f, -1f, -1f)), // bucket 0
      (5L, Array(-0.5f, -0.5f, -0.5f, -0.5f, -0.5f, -0.5f, -0.5f, -0.5f)) // colinear with 4
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosPairs(embs, planes = 8, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L)))
    val keep = Dedup.embeddingKeepSet(embs, planes = 8, tau = 0.9).collect()
      .map(_.getLong(0)).toSet
    assert(keep === Set(0L, 3L, 4L))
  }

  test("langid picks the language with most marker hits") {
    val r = TextAnalysis.langId(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("lang_pred")).toMap
    assert(r(5L) === "de")
    assert(r(1L) === "en")
    assert(r(4L) === "en") // 'and' marker
  }

  test("fingerprint is order-sensitive") {
    val d2 = Seq((1L, "alpha beta"), (2L, "beta alpha")).toDF("doc_id", "text")
    val f = TextAnalysis.fingerprint(d2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) !== f(2L))
  }

  test("multimodal video path: real RIFF/AVI container parse; stub only for unknown bytes") {
    // 3-mod-4 lengths now ride a real AVI container: "abc" (3) -> avih
    // carries width 3%64+1 = 4, height 1, 5 frames; constant 88 bytes
    val corpus = Seq(("u1", "abc".getBytes("UTF-8")), ("u2", "worlds!".getBytes("UTF-8")))
      .toDF("url", "html")
    val m = Multimodal.decodeMeta(corpus, batchSize = 1).collect()
      .map(x => x.url -> x).toMap
    assert(m("u1").format === "avi" && m("u1").n_bytes === 88L)
    assert(m("u1").width === 4 && m("u1").height === 1 && m("u1").n_frames === 5)
    assert(m("u2").format === "avi" && m("u2").width === 8 && m("u2").n_frames === 5)
    // the parse is a real chunk walk, not a length rule: direct round-trip
    assert(Multimodal.aviMeta(Multimodal.makeAvi(640, 480, 123))
      === Some((640, 480, 123, "avi")))
    // non-RIFF and truncated payloads are rejected, falling to the stub
    assert(Multimodal.aviMeta("not a riff file at all".getBytes) === None)
    assert(Multimodal.aviMeta(Multimodal.makeAvi(640, 480, 123).take(20)) === None)
    // the deterministic stub remains for payloads no parser recognizes
    assert(Multimodal.stubDecode("hello".getBytes)
      === ((6, 1, ('h'.toInt % 7) + 1, "vid")))
  }

  test("media synthesizers: decode round-trip + closed-form size over random shapes") {
    // the oracle SQL relies on every synthesized payload's metadata and
    // byte size being a pure closed-form function of the rule inputs --
    // pin that over a seeded random sweep, not just the gate's shapes
    val r = new scala.util.Random(4242)
    for (_ <- 1 to 50) {
      val (w, h) = (r.nextInt(64) + 1, r.nextInt(64) + 1)
      val png = Multimodal.makePng(w, h)
      assert(png.length === 68 + h * (1 + 3 * w))
      assert(Multimodal.imageMeta(png) === Some((w, h, "png")))
      val jpg = Multimodal.makeJpeg(w, h)
      assert(jpg.length === 155)
      assert(Multimodal.imageMeta(jpg) === Some((w, h, "jpeg")))
      val (rate, n, ch) = (8000 + r.nextInt(8) * 1000, r.nextInt(64) + 1, r.nextInt(2) + 1)
      val wav = Multimodal.makeWav(rate, n, ch)
      assert(wav.length === 44 + n * ch * 2)
      assert(Multimodal.audioMeta(wav) === Some((rate, ch, n.toLong, "wave")))
      val f = r.nextInt(1000)
      val avi = Multimodal.makeAvi(w, h, f)
      assert(avi.length === 88)
      assert(Multimodal.aviMeta(avi) === Some((w, h, f, "avi")))
      // cross-rejection: each parser refuses the other formats
      assert(Multimodal.imageMeta(wav).isEmpty && Multimodal.imageMeta(avi).isEmpty)
      assert(Multimodal.audioMeta(png).isEmpty && Multimodal.audioMeta(jpg).isEmpty)
      assert(Multimodal.aviMeta(png).isEmpty && Multimodal.aviMeta(wav).isEmpty)
    }
    // hostile-RIFF fuzz: random byte soup behind a valid RIFF/AVI magic
    // must terminate (no infinite loop / stack overflow), returning
    // None or garbage-but-finite metadata -- never hanging or throwing
    for (i <- 1 to 200) {
      val junk = new Array[Byte](12 + r.nextInt(256))
      r.nextBytes(junk)
      System.arraycopy("RIFF".getBytes, 0, junk, 0, 4)
      if (junk.length >= 12) System.arraycopy("AVI ".getBytes, 0, junk, 8, 4)
      Multimodal.aviMeta(junk) // must return, whatever the value
      val junk2 = new Array[Byte](r.nextInt(64)); r.nextBytes(junk2)
      assert(Multimodal.aviMeta(junk2).isEmpty || junk2.length >= 24)
    }
  }

  test("makePng emits a real PNG: javax.imageio decodes it, size is closed-form") {
    val bytes = Multimodal.makePng(17, 9)
    assert(bytes.length === 68 + 9 * (1 + 3 * 17))
    // full pixel decode (not just the header): the file must be genuinely valid
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth === 17 && img.getHeight === 9)
    assert(img.getRGB(16, 8) === 0xff000000) // opaque black, as encoded
    // header-only metadata path agrees
    assert(Multimodal.imageMeta(bytes) === Some((17, 9, "png")))
  }

  test("decodeMeta real-decodes PNG, JPEG and WAV payloads via stock-JDK parsers") {
    // withPayload synthesizes one real format per length-mod-4 class
    // (PNG at 0, WAV at 1, JPEG at 2); decodeMeta must report the REAL
    // decoded dimensions/rates, 3 mod 4 falls through to the video stub
    val corpus = Seq(
      ("u0", "x" * 132), // 0 mod 4: PNG, width 132%64+1 = 5, height 3
      ("u2", "x" * 130), // 2 mod 4: JPEG, width 130%64+1 = 3, height 3
      ("ua", "x" * 133), // 1 mod 4: WAV, rate 13000, 2 ch, 6 frames
      ("u1", "x" * 131)  // 3 mod 4: AVI container
    ).map { case (u, s) => (u, s.getBytes("UTF-8")) }.toDF("url", "html")
    val m = Multimodal.decodeMeta(corpus).collect()
      .map(x => x.url -> x).toMap
    assert(m("u0").format === "png" && m("u0").width === 5 && m("u0").height === 3)
    assert(m("u0").n_bytes === 68 + 3 * (1 + 3 * 5) && m("u0").n_frames === 1)
    // the JPEG really went through the imageio reader (format name JPEG,
    // lowercased), its header really carries the rule's dimensions, and
    // its size is makeJpeg's closed-form constant
    assert(m("u2").format === "jpeg" && m("u2").width === 3 && m("u2").height === 3)
    assert(m("u2").n_bytes === 155L && m("u2").n_frames === 1)
    // the WAV really went through javax.sound.sampled (type name WAVE,
    // lowercased): width/height carry sample-rate/channels, n_frames the
    // RIFF frame count, size is makeWav's closed form 44 + 6*2*2
    assert(m("ua").format === "wave" && m("ua").width === 13000 && m("ua").height === 2)
    assert(m("ua").n_frames === 6 && m("ua").n_bytes === 68L)
    // 131 mod 4 = 3: AVI container, really parsed (width 131%64+1 = 4)
    assert(m("u1").format === "avi" && m("u1").n_bytes === 88L && m("u1").width === 4)
  }

  test("streaming dedup collapses redelivered events to exact counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_spec").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1L, "click", 2.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 2L, "error", 3.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.streamDedupCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(got === Map("click" -> 2L, "error" -> 1L))
  }

  test("sessionize splits on >30min gaps") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10L),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 10L),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 10L), // 50min gap
      (4L, java.sql.Timestamp.valueOf("2024-01-01 01:29:00"), 10L)
    ).toDF("event_id", "ts", "user_id")
    val s = Events.sessionize(ev).collect()
    assert(s.length === 2)
    assert(s.map(_.getAs[Long]("n_events")).toSeq === Seq(2L, 2L))
  }

  test("repetition signals: dup-word and bigram concentration fractions") {
    val d = Seq((1L, "a b a b c"), (2L, "x y z"), (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 1: tokens a,b,a,b,c -> 4 of 5 occurrences repeat; bigrams
    // "a b","b a","a b","b c" -> top "a b" covers 2/4, dups cover 2/4
    assert(r(1L).getAs[Long]("n_tokens") === 5)
    assert(r(1L).getAs[Double]("dup_word_frac") === 0.8)
    assert(r(1L).getAs[Long]("n_bigrams") === 4)
    assert(r(1L).getAs[Double]("top_bigram_frac") === 0.5)
    assert(r(1L).getAs[Double]("dup_bigram_frac") === 0.5)
    // doc 2: no repetition; top bigram still covers 1/2
    assert(r(2L).getAs[Double]("dup_word_frac") === 0.0)
    assert(r(2L).getAs[Double]("top_bigram_frac") === 0.5)
    assert(r(2L).getAs[Double]("dup_bigram_frac") === 0.0)
    // doc 3: empty -> all zeros, no division blowup
    assert(r(3L).getAs[Long]("n_tokens") === 0)
    assert(r(3L).getAs[Double]("top_bigram_frac") === 0.0)
  }

  test("duplicatedSpans finds and merges exact n-token repeats") {
    val d = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d q a b c d")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, n = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"))).toSet
    // "a b c d" occurs three times (doc1 pos0, doc2 pos2 and pos7): its two
    // 3-gram hits per site merge into one 4-token island each
    assert(spans === Set((1L, 0L, 3L, 4L), (2L, 2L, 5L, 4L), (2L, 7L, 10L, 4L)))
    // n larger than any repeat -> no spans
    assert(Dedup.duplicatedSpans(d, n = 5).count() === 0)
  }

  test("unigram perplexity: uniform text maxes it, repeated tokens lower it") {
    val d = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramPerplexity(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // corpus cfs: a=5, b=1, c=1, d=1 over 8 tokens
    // doc 2 (all 'a', p=5/8) is far less perplexing than doc 1's mix
    assert(r(2L).getAs[Double]("perplexity") === 1.6) // exp(-ln(5/8)) = 8/5
    assert(r(1L).getAs[Double]("perplexity") > r(2L).getAs[Double]("perplexity"))
    assert(r(3L).getAs[Long]("n_tokens") === 0
      && r(3L).getAs[Double]("perplexity") === 0.0)
  }

  test("canonicalUrl normalizes scheme, www, fragment, utm params, index.html") {
    val urls = Seq(
      "HTTP://www.Example.COM/path/index.html?utm_source=x#top",
      "https://example.com/a?b=2&utm_c=3&d=4",
      "https://example.com/a?utm_only=1",
      "https://example.com/",
      "example.com/already/bare").toDF("url")
    val got = urls.select(Dedup.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "example.com/path",
      "example.com/a?b=2&d=4",
      "example.com/a",
      "example.com",
      "example.com/already/bare"))
  }

  test("curation audit: every gate discriminates and kept composes them") {
    val longEn = "the quick brown fox jumps over a lazy dog and then " +
      "the small bird flies far away of its old barn while the sun is warm"
    val d = Seq(
      (1L, longEn),                          // passes everything, canonical
      (2L, longEn),                          // exact dup of 1 -> not canonical
      (3L, "the cat sat"),                   // too short
      (4L, "der hund und die katze das ist gut und so ist der hund und die " +
           "katze denn der hund und die katze sind gut"), // German
      (5L, "spark row spark row spark row spark row spark row spark row " +
           "spark row spark row spark row spark row the of a")) // repetitive
      .toDF("doc_id", "text")
    val a = Curation.audit(d, minTokens = 10, maxDupBigramFrac = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(a(1L).getAs[Long]("kept") === 1)
    assert(a(2L).getAs[Long]("is_canonical") === 0 && a(2L).getAs[Long]("kept") === 0)
    assert(a(3L).getAs[Long]("pass_len") === 0 && a(3L).getAs[Long]("kept") === 0)
    assert(a(4L).getAs[Long]("pass_lang") === 0 && a(4L).getAs[Long]("kept") === 0)
    assert(a(5L).getAs[Long]("pass_rep") === 0 && a(5L).getAs[Long]("kept") === 0)
    assert(Curation.kept(d, minTokens = 10, maxDupBigramFrac = 0.5)
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("urlKeepLatest keeps the newest fetch per canonical url") {
    val rows = Seq(
      ("https://example.com/p", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("http://www.example.com/p/", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L),
      ("https://example.com/q", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 3L)
    ).toDF("url", "warc_ts", "doc_id")
    val kept = Dedup.urlKeepLatest(rows).collect()
      .map(r => r.getAs[String]("canon_url") ->
        ((r.getAs[Long]("doc_id"), r.getAs[Long]("n_versions")))).toMap
    assert(kept === Map("example.com/p" -> ((2L, 2L)), "example.com/q" -> ((3L, 1L))))
  }

  test("decontamination flags train docs sharing an n-gram with the eval set") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // leaked eval item + tail
      (2L, "one two three four five six seven"), // clean
      (3L, "prefix words then alpha beta gamma delta epsilon more"), // quotes it
      (4L, "tiny doc")) // shorter than n -> no grams
      .toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val c = Curation.contamination(train, eval, n = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"), r.getAs[Long]("contaminated"))))
      .toMap
    assert(c(1L) === ((2L, 1L, 1L)))
    assert(c(2L) === ((3L, 0L, 0L)))
    assert(c(3L) === ((5L, 1L, 1L)))
    assert(c(4L) === ((0L, 0L, 0L)))
  }

  test("pii: detection counts and typed redaction") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      (1L, "mail a.b@example.com or c@test.org please"),
      (2L, "call 555-123-4567 from host 192.168.0.1 now"),
      (3L, "no pii here at all")).toDF("doc_id", "text")
    val p = TextAnalysis.pii(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(p(1L).getAs[Long]("n_email") === 2 && p(1L).getAs[Long]("n_phone") === 0)
    assert(p(2L).getAs[Long]("n_phone") === 1 && p(2L).getAs[Long]("n_ip") === 1)
    assert(p(3L).getAs[Long]("n_email") === 0 && p(3L).getAs[Long]("n_ip") === 0)
    assert(p(1L).getAs[String]("redacted_hash")
      === md5hex("mail <EMAIL> or <EMAIL> please"))
    assert(p(2L).getAs[String]("redacted_hash")
      === md5hex("call <PHONE> from host <IP> now"))
    assert(p(3L).getAs[String]("redacted_hash") === md5hex("no pii here at all"))
  }

  test("scrubSpans removes every occurrence of duplicated 4-token runs, keeps the rest") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Seq(
      (1L, "a b c d x"), // dup run at pos 0-3, unique tail
      (2L, "z a b c d"), // same run at pos 1-4, unique head
      (3L, "p q r s t")) // untouched
      .toDF("doc_id", "text")
    val sc = Dedup.scrubSpans(d, n = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("scrubbed_hash")))).toMap
    assert(sc(1L) === ((5L, 4L, md5hex("x"))))
    assert(sc(2L) === ((5L, 4L, md5hex("z"))))
    assert(sc(3L) === ((5L, 0L, md5hex("p q r s t"))))
  }

  test("auditFull: perplexity and PII flags compose with the base audit") {
    val common = "the quick brown fox jumps over the lazy dog and then " +
      "the fox runs off to the barn where the dog sleeps all day long"
    val d = Seq(
      (1L, common), // passes everything
      (2L, common + " mail me at leak@example.com for details"), // PII
      (3L, "zyx wvu tsr qpo nml kji hgf edc baz the of a and is " +
           "more rare tokens only here xqj zzv kqw pxn vbn mlp")) // hapax-heavy -> high ppl
      .toDF("doc_id", "text")
    val ppl = TextAnalysis.unigramPerplexity(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("perplexity")).toMap
    val thr = (ppl(1L) + ppl(3L)) / 2 // between the fluent and the hapax doc
    val a = Curation.auditFull(d, minTokens = 10, maxDupBigramFrac = 0.5,
        maxPerplexity = thr).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(a(1L).getAs[Long]("pass_ppl") === 1 && a(1L).getAs[Long]("pass_pii") === 1)
    assert(a(1L).getAs[Long]("kept") === 1)
    assert(a(2L).getAs[Long]("pass_pii") === 0 && a(2L).getAs[Long]("kept") === 0)
    assert(a(3L).getAs[Long]("pass_ppl") === 0 && a(3L).getAs[Long]("kept") === 0)
  }

  test("sampleByWeight: deterministic md5 coin, per-group rates, 0/1 extremes") {
    def u32hex(docId: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    val d = (0L until 40L).map(i => (i, s"doc $i", s"g${i % 4}"))
      .toDF("doc_id", "text", "source")
    val w = Map("g0" -> 1.0, "g1" -> 0.0, "g2" -> 0.5)
    val run1 = Curation.sampleByWeight(d, w, defaultFrac = 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val run2 = Curation.sampleByWeight(d, w, defaultFrac = 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(run1 === run2) // reproducible
    for ((id, (grp, kept)) <- run1) grp match {
      case "g0" => assert(kept === 1L)
      case "g1" => assert(kept === 0L)
      case _ => // g2 + default g3, both 0.5: must equal the manual coin
        assert(kept === (if (u32hex(id) < Curation.sampleThreshold(0.5)) 1L else 0L))
    }
    // a 0.5 rate keeps SOMETHING and drops SOMETHING on 10 coins
    val g2 = run1.collect { case (_, ("g2", k)) => k }
    assert(g2.toSet === Set(0L, 1L))
  }

  test("packByBudget: shards are contiguous prefix-sum bins across bucket boundaries") {
    // six docs x 4 tokens, budget 8 -> shards 0,0,1,1,2,2; bucketSize=2
    // forces the two-level prefix sum through three buckets
    val d = (1L to 6L).map(i => (i, "a b c d")).toDF("doc_id", "text")
    val p = Curation.packByBudget(d, budget = 8, bucketSize = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(p === Map(
      1L -> ((4L, 0L)), 2L -> ((4L, 0L)), 3L -> ((4L, 1L)),
      4L -> ((4L, 1L)), 5L -> ((4L, 2L)), 6L -> ((4L, 2L))))
    // uneven doc lengths: the spilling doc starts where its prefix says
    val d2 = Seq((1L, "a b c d e f g"), (2L, "h i"), (3L, "j k l"))
      .toDF("doc_id", "text")
    val p2 = Curation.packByBudget(d2, budget = 8, bucketSize = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p2 === Map(1L -> 0L, 2L -> 0L, 3L -> 1L)) // priors 0,7,9
  }

  test("k-means quantizer: trained centroids separate clusters and sit at their means") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // init spans both clusters
      (2L, Array(0.9f, 0.1f)), (3L, Array(1.1f, -0.1f)),
      (4L, Array(0.1f, 1.2f)), (5L, Array(-0.1f, 0.8f))
    ).toDF("vec_id", "embedding")
    val cells = Similarity.kmeansAssign(embs, k = 2, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(0L) === cells(2L) && cells(0L) === cells(3L))
    assert(cells(1L) === cells(4L) && cells(1L) === cells(5L))
    assert(cells(0L) !== cells(1L))
    // trained centroid of the x-cluster = member mean (1.0, 0.0) to 6dp
    val cent = Similarity.kmeansCentroids(embs, k = 2, iters = 2).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Int]("i")) -> r.getAs[Double]("y")).toMap
    val xCid = cells(0L)
    assert(math.abs(cent((xCid, 0)) - 1.0) < 1e-4)
    assert(math.abs(cent((xCid, 1)) - 0.0) < 1e-4)
  }

  test("splitAssign: disjoint, deterministic, salted independently of sampleByWeight") {
    val many = spark.range(0, 2000).selectExpr("id AS doc_id", "'x' AS text", "'s' AS source")
    val s = Curation.splitAssign(many, valFrac = 0.1, testFrac = 0.1)
    val bysplit = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every doc in exactly one set; fractions near 10/10/80
    assert(bysplit.values.sum === 2000L)
    assert(bysplit("val") > 120 && bysplit("val") < 280)
    assert(bysplit("test") > 120 && bysplit("test") < 280)
    assert(bysplit("train") > 1400)
    // deterministic across runs
    val again = Curation.splitAssign(many, 0.1, 0.1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    s.collect().foreach(r => assert(again(r.getLong(0)) === r.getString(1)))
    // the split coin is SALTED: it must not equal the sampling coin's
    // verdict set (unsalted, every kept-at-0.2 doc would be val/test)
    val sampled = Curation.sampleByWeight(many, Map("s" -> 0.2))
      .where(col("kept") === 1L).select("doc_id").collect().map(_.getLong(0)).toSet
    val valTest = s.where(col("split") =!= "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled !== valTest)
    // extremes: valFrac=1 puts everything in val
    val allVal = Curation.splitAssign(many, 1.0, 0.0)
      .groupBy("split").count().collect()
    assert(allVal.length === 1 && allVal.head.getString(0) === "val")
  }

  test("qualityThresholds: exact per-language percentiles of token length") {
    val d = Seq(
      (1L, "the a of one"), // en, 4 tokens
      (2L, "the a of one two three"), // en, 6 tokens
      (3L, "the a of one two three four five"), // en, 8 tokens
      (4L, "der und die das ist") // de, 5 tokens
    ).toDF("doc_id", "text")
    val t = Curation.qualityThresholds(d, ps = Seq(0.5))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(t("en") === ((3L, 6.0))) // median of 4,6,8
    assert(t("de") === ((1L, 5.0)))

    // interpolated cut (h = p*(N-1) lands between order statistics):
    // en p90 over [4,6,8] -> h=1.8 -> 6 + 0.8*(8-6) = 7.6
    val t9 = Curation.qualityThresholds(d, ps = Seq(0.9))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(t9("en") === 7.6)
    assert(t9("de") === 5.0)

    // scale shape: the histogram form must keep the whole plan in hash
    // aggregation -- Spark's exact `percentile` would show up as an
    // ObjectHashAggregate buffering every value of a language in one
    // reducer (the 100-TB OOM shape this operator specifically avoids)
    val plan = Curation.qualityThresholds(d).queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(!plan.toLowerCase.contains("percentile"), plan.take(500))
  }

  test("topNgrams: counts, deterministic tie-break, n=3 includes doc-tail grams") {
    val d = Seq(
      (1L, "click here to accept cookies"),
      (2L, "click here to start"),
      (3L, "zzz yyy")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(d, n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "click here" and "here to" tie at 2 occurrences / 2 docs; count
    // desc then gram asc puts "click here" first
    assert(top(0) === (("click here", 2L, 2L)))
    assert(top(1) === (("here to", 2L, 2L)))
    // trigrams: the LAST trigram of doc 2 ("here to start") must appear
    // (regression: leads computed over a filtered frame dropped it)
    val tri = TextAnalysis.topNgrams(d, n = 3, k = 100).collect()
      .map(_.getString(0)).toSet
    assert(tri.contains("here to start"))
    assert(tri.contains("click here to"))
    assert(!tri.exists(_.startsWith("zzz yyy"))) // 2-token doc has no trigram
  }

  test("scrubSpansKeepOne: canonical copy survives; scrubSpans drops both") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (3L, "a b c d x a b c d"), // within-doc repeat
      (4L, "totally unrelated words appearing only once here")
    ).toDF("doc_id", "text")
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keep = Dedup.scrubSpansKeepOne(d, n = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .sortBy(_._1)
    // doc 1 is every gram's canonical occurrence: kept verbatim
    assert(keep(0) === ((1L, 9L, 0L,
      md5("the quick brown fox jumps over the lazy dog"))))
    // doc 2 holds only non-canonical occurrences: fully scrubbed
    assert(keep(1) === ((2L, 9L, 9L, md5(""))))
    // within-doc repeat: the FIRST "a b c d" survives, the second scrubs
    assert(keep(2) === ((3L, 9L, 4L, md5("a b c d x"))))
    // clean doc untouched
    assert(keep(3)._3 === 0L)
    // divergence vs the remove-all scrub: there BOTH copies of doc 1/2 go
    val all = Dedup.scrubSpans(d, n = 4).collect()
      .map(x => (x.getLong(0), x.getLong(2))).sortBy(_._1)
    assert(all(0)._2 === 9L && all(1)._2 === 9L)
  }

  test("chunkByTokens: chunk boundaries, overlap, short tail, tiny doc") {
    import spark.implicits._
    // 12 tokens, maxTokens=10, overlap=2 -> stride 8: chunks [0,10) and
    // [8,12); 5-token doc -> one whole-doc chunk; empty doc -> none
    val d = Seq(
      (1L, (0 until 12).map(i => s"t$i").mkString(" ")),
      (2L, "a b c d e"),
      (3L, ""),
      // 9 tokens < maxTokens=10 but > stride=8: the first window already
      // covers the whole doc, so NO second chunk -- a "start < n" rule
      // would emit [8,9) as a redundant subset of [0,9)
      (4L, (0 until 9).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val c = Curation.chunkByTokens(d, maxTokens = 10, overlap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    assert(c.map(t => (t._1, t._2, t._3, t._4)).toSeq ===
      Seq((1L, 0L, 0L, 10L), (1L, 1L, 8L, 4L), (2L, 0L, 0L, 5L),
        (4L, 0L, 0L, 9L)))
    // overlap is real: chunk 1 of doc 1 starts at token 8 = "t8 t9 t10 t11"
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(c(1)._5 === md5("t8 t9 t10 t11"))
    assert(c(0)._5 === md5((0 until 10).map(i => s"t$i").mkString(" ")))
  }

  test("tfidfTopTerms: rare terms outrank common ones; ties break by term") {
    import spark.implicits._
    // 'shared' in all 3 docs (idf = ln(1) = 0); each doc's unique terms
    // carry idf ln(3); doc 1 repeats 'alpha' so it outranks 'beta'
    val d = Seq(
      (1L, "shared alpha alpha beta"),
      (2L, "shared gamma delta"),
      (3L, "shared epsilon")).toDF("doc_id", "text")
    val t = TextAnalysis.tfidfTopTerms(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val d1 = t.filter(_._1 == 1L).sortBy(_._4)
    assert(d1.map(_._2).toSeq === Seq("alpha", "beta"))
    assert(d1(0)._3 === BigDecimal(2 * math.log(3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 2: gamma/delta tie at ln(3); term asc puts delta first
    val d2 = t.filter(_._1 == 2L).sortBy(_._4)
    assert(d2.map(_._2).toSeq === Seq("delta", "gamma"))
    // 'shared' has tfidf 0 and never enters a top-2 over the unique terms
    assert(!t.exists(r => r._2 == "shared" && r._4 <= 2 && r._1 != 3L))
  }
}
