package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import scala.jdk.CollectionConverters._

/** Large-scale training-data deduplication operators over the documents
  * table. All hashing is md5-based so the DuckDB oracle can reproduce
  * every value bit-for-bit (no engine-private hash functions).
  *
  * Scale notes:
  *  - [[jaccardPairs]] is an exact prefix-filtered join: a doc pairs only
  *    through the rarest shingles of its set (its prefix under a global
  *    (df, shingle) order), and candidates are verified against the full
  *    sets. Head shingles sort last, so they rarely reach a prefix, and
  *    the `maxShingleDf` cap drops boilerplate shingles altogether. No row
  *    holds more than one doc's shingle set.
  *  - [[duplicateClusters]] answers on the driver (union-find) when the
  *    pairs fit [[MaxDriverEdges]] rows, about 30 MB of driver memory, and
  *    runs distributed min-label rounds past it.
  */
object Dedup {

  /** Reference separator class as a regex character class -- the ONE
    * definition every ops-module split shares (a second copy drifting from
    * the tokenizer would silently desynchronize curation signals from the
    * dedup shingles).
    */
  private[ops] val SepClass = "[!\"#$%&'()*+,\\-./@\\[\\\\\\]^{|}~:;<=>? ]+"

  /** Reference-tokenizer token array as a pure column (split on the
    * separator class + drop empties) -- the shared narrow front of every
    * text-dedup operator. Stays in whole-stage codegen; the typed
    * `Tokenizer.tokenize` flatMap it replaces paid an object-encoder
    * round-trip per document (measured ~2x on the shingle stage).
    */
  private[ops] def toksArr: Column =
    filter(split(lower(col("text")), SepClass), t => t =!= "")

  /** Distinct n-token shingles per doc: (doc_id, shingle). Narrow: sliding
    * windows as array arithmetic (sequence + slice inside one projection,
    * the [[gramHashes]] pattern), distinct per doc inside the row.
    */
  def shingles(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"), toksArr.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => array_join(slice(col("toks"), i, lit(n)), " ")))).as("shingle"))

  /** Exact duplicate groups by content hash. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).cast("long").as("min_doc_id"),
        max(col("doc_id")).cast("long").as("max_doc_id"))
      .filter(col("n_docs") > 1)

  /** Near-duplicate pairs by n-gram Jaccard: (a, b, jaccard) with a < b for
    * every pair sharing a shingle whose jaccard = common / (|A| + |B| -
    * common), rounded to 4 dp (HALF_UP), is >= threshold.
    *
    * maxShingleDf is the head-shingle guard (the 100 TB safety): a single
    * boilerplate shingle shared by d docs would pair all d^2 of them, so
    * shingles with df > maxShingleDf are dropped from every set (from the
    * common counts and the set sizes alike) -- the standard near-dup
    * approximation; pairs held together only by boilerplate are not
    * near-duplicates worth reporting. The df pre-count aggregates counters
    * only (map-side combined), so a shingle with df ~ 10^9 never builds a
    * doc-id list.
    *
    * Exact prefix-filtered join (the AllPairs / PPJoin family): each doc's
    * capped set is ordered by the global key (df, shingle), rarest first;
    * two docs are a candidate only when they share one of their first
    * p(|s|) = |s| - ceil(t' * |s|) + 1 shingles, t' = threshold - 0.00005,
    * and every candidate is verified against the two full sets. Why no
    * reported pair is lost:
    *  - HALF_UP rounding moves jaccard by at most 0.00005, so a pair with
    *    round(jaccard, 4) >= threshold has jaccard >= t';
    *  - then common >= jaccard * |A u B| >= t' * |A|, so the pair shares at
    *    least alpha = ceil(t' * |A|) of A's shingles (likewise for B);
    *  - A's shingles after its prefix number alpha - 1, fewer than the
    *    shared ones, so A's prefix holds a shared shingle, and so does B's.
    *    Under one global order the smallest shared shingle comes first
    *    among the shared ones in both sets, so it lies in both prefixes;
    *  - a longer prefix only adds candidates, which verification drops, so
    *    lengthening a prefix is always safe. The ceiling is therefore taken
    *    of t' * |s| - PrefixSlack: the double rounding in t' and in the
    *    product stays below 5e-7 for any array-sized |s| (< 2^31, each
    *    error < |s| * 2^-52), so the computed ceiling is never above the
    *    exact one -- float error can only lengthen the prefix.
    *
    * Scale shape: the per-doc sets (doc_id, shingles in (df, shingle)
    * order) are materialized once per call by an eager localCheckpoint, not
    * a cache, so no persisted relation outlives the returned plan; the
    * prefix rows and both sides of the verification read them. No row holds
    * more than one doc's set: candidates are (a, b) rows of an equi-join on
    * prefix shingles, deduplicated before verification. High-df shingles
    * sort last and rarely reach a prefix, so the join stays far below the
    * sum(df^2) of the plain shingle self-join.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
                   maxShingleDf: Long = 1000L): DataFrame = {
    val sh0 = shingles(docs, n)
    val df = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") <= maxShingleDf)
    val sets = sh0.join(df, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("sdf"), col("shingle")))).as("s"))
      .select(col("doc_id"), col("s.shingle").as("s"))
      .localCheckpoint(true)
    val alpha = ceil(lit(threshold - RoundingSlack) * size(col("s")) - lit(PrefixSlack))
    val prefixLen = greatest(size(col("s")) - alpha + 1, lit(0)).cast("int")
    val prefix = sets.select(col("doc_id"),
      explode(slice(col("s"), lit(1), prefixLen)).as("shingle"))
    val candidates = prefix.select(col("shingle"), col("doc_id").as("a"))
      .join(prefix.select(col("shingle"), col("doc_id").as("b")), "shingle")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    candidates
      .join(sets.toDF("a", "sa"), "a")
      .join(sets.toDF("b", "sb"), "b")
      .select(col("a"), col("b"), size(col("sa")).as("na"), size(col("sb")).as("nb"),
        size(array_intersect(col("sa"), col("sb"))).as("common"))
      .withColumn("jaccard",
        round(col("common") / (col("na") + col("nb") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Half a unit in the 4th decimal: how far HALF_UP rounding can lift a
    * jaccard, so t' = threshold - RoundingSlack bounds every reported pair.
    */
  private val RoundingSlack = 0.00005

  /** Subtracted from t' * |s| before the ceiling so double rounding can only
    * lengthen a prefix (see [[jaccardPairs]]).
    */
  private val PrefixSlack = 1e-6

  /** The dedup OUTPUT for exact duplicates: one kept doc per distinct
    * content (the lowest doc_id -- deterministic canonical), i.e. what a
    * training pipeline actually feeds downstream.
    */
  def dedupedDocs(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).cast("long").as("doc_id"))
      .select(col("doc_id"))

  /** Edge rows up to which [[duplicateClusters]] answers on the driver.
    * Collected rows cost about 100 bytes an edge on the driver and the
    * answer is a local relation of at most two rows an edge, so the bound
    * allows roughly 10 MB of collected edges and 20 MB of local rows.
    */
  val MaxDriverEdges: Long = 100000L

  /** Near-duplicate CLUSTERS from a candidate-pair relation (a, b):
    * connected components, labelled by their minimum id. Returns
    * (doc_id, cluster) for every doc in `pairs`; cluster = min doc_id of
    * the component.
    *
    * Small on the driver, large distributed -- the rule `LocalServe`
    * applies to postings. The pair rows are materialized once (an eager
    * localCheckpoint) and counted. When there are at most
    * [[MaxDriverEdges]] of them, they are collected and a union-find rooted
    * at each component's minimum id answers as one local relation with the
    * rounds' schema. Past the bound the rounds below run; `maxIter` applies
    * only to them.
    *
    * The rounds: alternating large-star / small-star rounds (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) over
    * the edges oriented larger id -> smaller id. Large-star links every
    * node's larger neighbors to the minimum of its closed neighborhood;
    * small-star links a node and its smaller neighbors to the minimum of
    * those. Both keep the components and only lower edge endpoints, and
    * the graph stops changing exactly when every component is a star
    * around its minimum id -- then each node's one smaller neighbor is its
    * label. The proven bound is O(log^2 n) alternations, whatever the id
    * order; simulated over shuffled id orders, a 200-node chain settled in
    * at most 7 alternations and a 1,000-node chain in at most 9. Each
    * alternation is a few hash-partitioned joins + aggregations -- no
    * driver-side state, no collected edge list: the 100 TB shape for
    * transitive dedup. `maxIter` bounds the alternations; throws if the
    * graph is not yet a star forest after them (a silently split
    * component would mis-deduplicate downstream).
    *
    * Every per-round relation is EAGERLY localCheckpoint'ed, not cached:
    * each round then plans against flat LogicalRDDs, so plan depth (and
    * Catalyst analysis cost) stays CONSTANT across rounds. The previous
    * cache+unpersist loop nested each round's InMemoryRelation inside the
    * next round's plan, and the growing analysis/recompile work made later
    * rounds 3-10x slower (measured: 10-15 s -> 1.5-3 s on the embcos gate;
    * the final checkpoint's recompute after unpersist was the worst case).
    * Stale rounds' checkpoint blocks are unreferenced as the edges advance
    * and are freed by the ContextCleaner; the relations are bounded by the
    * paired-doc count, orders of magnitude below the corpus. On a real
    * multi-executor cluster localCheckpoint trades executor-loss
    * recoverability for speed -- for multi-hour jobs swap in reliable
    * checkpoint() to the cluster FS, same shape.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    duplicateClusters(pairs, maxIter, MaxDriverEdges)

  /** [[duplicateClusters]] with the driver bound as an argument: 0 forces
    * the distributed rounds.
    */
  private[graft] def duplicateClusters(pairs: DataFrame, maxIter: Int,
                                       maxDriverEdges: Long): DataFrame = {
    val pe = pairs.select(col("a").as("x"), col("b").as("y")).localCheckpoint(true)
    // undirected edges, both directions (lazy: analysis gives the schema)
    val sym = pe.unionByName(pe.select(col("y").as("x"), col("x").as("y")))
    val schema = sym.groupBy(col("x")).agg(min(col("y")).as("minn"))
      .select(col("x").as("doc_id"), least(col("x"), col("minn")).as("cluster")).schema
    val idType = schema.head.dataType
    val driverRows =
      if ((idType == IntegerType || idType == LongType) &&
          pe.queryExecution.toRdd.count() <= maxDriverEdges)
        Some(pe.collect()).filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      else None
    driverRows match {
      case Some(rows) =>
        val (ids, cluster) = unionFind(
          rows.map(_.get(0).asInstanceOf[Number].longValue),
          rows.map(_.get(1).asInstanceOf[Number].longValue))
        val out = ids.indices.map { i =>
          if (idType == IntegerType) Row(ids(i).toInt, cluster(i).toInt)
          else Row(ids(i), cluster(i))
        }
        pairs.sparkSession.createDataFrame(out.asJava, schema)
      case None => clusterRounds(sym.distinct().localCheckpoint(true), maxIter)
    }
  }

  /** Connected components of the edges xs(k) -- ys(k): every distinct id,
    * ascending, with its component's minimum id. Ids are ranked once, so
    * index order is id order and a root that is always the smaller index
    * is the component minimum.
    */
  private def unionFind(xs: Array[Long], ys: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = (xs ++ ys).distinct.sorted
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val next = parent(j); parent(j) = r; j = next }
      r
    }
    for (k <- xs.indices) {
      val ra = find(java.util.Arrays.binarySearch(ids, xs(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, ys(k)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (ids, ids.indices.map(i => ids(find(i))).toArray)
  }

  /** The distributed rounds of [[duplicateClusters]] over materialized,
    * symmetric, distinct edges (x, y).
    */
  private def clusterRounds(edges: DataFrame, maxIter: Int): DataFrame = {
    // each undirected edge once, oriented larger -> smaller: (u, v), u > v
    var e = edges.filter(col("x") > col("y")).select(col("x").as("u"), col("y").as("v"))
    // per node with a smaller neighbor: the smallest one and how many there
    // are; materialized once, read by the star check and the next large-star
    def smaller(e: DataFrame): DataFrame =
      e.groupBy(col("u")).agg(min(col("v")).as("m"), count(lit(1)).as("n"))
        .localCheckpoint(true)
    // a star forest around each component's minimum: every node with a
    // smaller neighbor has exactly one, and that one has none
    def isStarForest(s: DataFrame): Boolean =
      s.join(s.select(col("u").as("m"), lit(true).as("m_has_smaller")), Seq("m"), "left_outer")
        .filter(col("n") > 1 || col("m_has_smaller").isNotNull)
        .limit(1).count() == 0
    var s = smaller(e)
    var converged = isStarForest(s)
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: for each edge (u, v), link u to the minimum of v's
      // closed neighborhood (v itself or its smallest smaller neighbor)
      val large = e.join(s.select(col("u").as("v"), col("m").as("mv")), Seq("v"), "left_outer")
        .select(col("u"), coalesce(col("mv"), col("v")).as("v"))
        .distinct()
      // small-star: link u and each of its smaller neighbors to the
      // smallest of those neighbors
      val small = large.join(large.groupBy(col("u")).agg(min(col("v")).as("m")), "u")
        .select(explode(array(
          struct(col("u").as("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true) // read by the next check and large-star
      e = small
      s = smaller(e)
      converged = isStarForest(s)
      i += 1
    }
    require(converged,
      s"duplicateClusters did not converge in $maxIter rounds -- raise maxIter")
    // a node with no smaller neighbor is its component's minimum
    edges.select(col("x").as("doc_id")).distinct()
      .join(s.select(col("u").as("doc_id"), col("m")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("m"), col("doc_id")).as("cluster"))
  }

  /** Near-dup dedup output: from LSH candidate pairs, keep one canonical
    * doc (min doc_id) per connected component plus every unpaired doc.
    */
  def nearDupKeepSet(docs: DataFrame, n: Int = 5, nHashes: Int = 8,
                     bands: Int = 4, maxIter: Int = 10): DataFrame = {
    val pairs = lshCandidatePairs(docs, n, nHashes, bands)
    val clusters = duplicateClusters(pairs, maxIter)
    val keepFromClusters = clusters.groupBy(col("cluster"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val unpaired = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(clusters.select(col("doc_id")), Seq("doc_id"), "left_anti")
    keepFromClusters.unionByName(unpaired)
  }

  /** MinHash signatures: for hash function i, sig = min over shingles of
    * md5(i || ':' || shingle) -- the 32-hex-char string compares
    * lexicographically exactly like the 128-bit value, in any engine.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 5, nHashes: Int = 8): DataFrame = {
    val sh = shingles(docs, n)
    sh.select(col("doc_id"), col("shingle"),
        explode(sequence(lit(0), lit(nHashes - 1))).as("i"))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(md5(concat(col("i").cast("string"), lit(":"), col("shingle")))).as("mh"))
  }

  /** MinHash-LSH candidate pairs: nHashes signatures split into `bands`
    * bands of r = nHashes/bands rows; docs sharing any band bucket are
    * candidates. Banding is the scale path: the pair join runs per
    * (band, bucket), never across the whole corpus.
    *
    * The nHashes signature mins are computed as nHashes AGGREGATION
    * COLUMNS of one groupBy(doc_id) — not an explode to (doc_id, i) rows —
    * so the whole signature stage is a single map-side-combined shuffle of
    * the shingle relation (vs explode×nHashes + two shuffles + a
    * collect_list sort). Band signatures are md5 over the in-row
    * concatenation of that band's mins; all values are identical to the
    * row-form definition, so the DuckDB oracle (which uses the row form)
    * hash-matches bit-for-bit.
    */
  def lshCandidatePairs(docs: DataFrame, n: Int = 5, nHashes: Int = 8, bands: Int = 4): DataFrame = {
    val r = nHashes / bands
    val sh = shingles(docs, n)
    val minCols = (0 until nHashes).map { i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"mh$i")
    }
    val sigRow = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandSig = sigRow.select(col("doc_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",", (b * r until (b + 1) * r).map(i => col(s"mh$i")): _*)).as("bsig"))
        }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
    val l = bandSig.select(col("band"), col("bsig"), col("doc_id").as("a"))
    val rt = bandSig.select(col("band"), col("bsig"), col("doc_id").as("b"))
    l.join(rt, Seq("band", "bsig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** 16-bit SimHash over terms weighted by tf: bit j of md5(term) votes
    * +tf / -tf; simhash bit j = (sum > 0). Pure integer arithmetic ->
    * bit-exact across engines.
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    // tf-weighting needs no per-term aggregation: sum(tf * vote) over
    // distinct terms == sum(vote) over token OCCURRENCES, so one explode +
    // ONE (doc_id) hash agg replaces the old flatMap + per-term grouping
    // (md5 per occurrence instead of per distinct term -- more hashing,
    // one less exchange; at corpus scale the exchange dominates)
    val occ = docs
      .select(col("doc_id").cast("long").as("doc_id"), explode(toksArr).as("term"))
      .withColumn("h", md5(col("term")))
    val bitCols = (0 until bits).map { j =>
      val hexDigit = substring(col("h"), j / 4 + 1, 1)
      val bit = shiftright(conv(hexDigit, 16, 10).cast("int"), 3 - j % 4) % 2
      sum(bit * 2 - 1).as(s"s$j")
    }
    val sums = occ.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sh = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc_id"), sh.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs -- the fifth dedup flavor,
    * over the embeddings table instead of the text. Candidate generation
    * is sign-LSH bucketing (the quadratic join never leaves a bucket,
    * the same 100 TB shape as the MinHash path); exact cosine filters
    * inside the bucket. Returns (a, b, cos) with a < b, cos >= tau.
    */
  def embeddingCosPairs(embeddings: DataFrame, planes: Int = 8,
                        tau: Double = 0.9): DataFrame =
    Similarity.lshPairs(embeddings, planes, tau)

  /** Keep set under embedding-cosine near-dup: one canonical vec (min
    * vec_id) per connected component of `embeddingCosPairs`, plus every
    * unpaired vec -- mirrors `nearDupKeepSet` with cosine candidates.
    */
  def embeddingKeepSet(embeddings: DataFrame, planes: Int = 8,
                       tau: Double = 0.9, maxIter: Int = 10): DataFrame = {
    val pairs = embeddingCosPairs(embeddings, planes, tau).select(col("a"), col("b"))
    val clusters = duplicateClusters(pairs, maxIter)
    val keepFromClusters = clusters.groupBy(col("cluster"))
      .agg(min(col("doc_id")).as("vec_id")).select(col("vec_id"))
    val unpaired = embeddings.select(col("vec_id").cast("long").as("vec_id"))
      .join(clusters.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
    keepFromClusters.unionByName(unpaired)
  }

  /** Per-position n-gram hashes of a (doc_id, text) relation: (doc_id,
    * pos, g = md5 of the space-joined n consecutive reference-tokenizer
    * tokens starting at pos). The shared shingle shape for substring-level
    * dedup and decontamination; every window is partitioned by doc_id, so
    * the work spreads with the corpus (never a global sort).
    */
  private[ops] def gramHashes(docs: DataFrame, n: Int): DataFrame = {
    val toks = toksArr
    // per-doc sliding grams as array arithmetic (sequence + slice inside
    // one projection) — no doc_id-partitioned window, so the whole stage
    // is narrow: no shuffle, no per-doc sort, stays in codegen
    docs.select(col("doc_id").cast("long").as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), posexplode(
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
          .otherwise(array())).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"))
  }

  /** Exact-substring duplicated spans (the suffix-array dedup family:
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022 — any token run of length >= n that occurs more than once
    * in the corpus, including within one doc, is a duplicated span).
    * Spark shape instead of a suffix array: every n-token shingle with
    * its position, one hash aggregation over md5(shingle) to find grams
    * occurring > 1 time, a semi-join back, then per-doc island merge of
    * overlapping hit positions (the pos - row_number trick). All windows
    * are partitioned by doc_id; the corpus-wide state is only the
    * duplicated-gram key set. Returns (doc_id, span_start, span_end,
    * span_tokens) with positions in reference-tokenizer token offsets.
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 10): DataFrame = {
    val grams = gramHashes(docs, n)
    val dupGrams = grams.groupBy(col("g")).count()
      .where(col("count") > 1).select(col("g"))
    islandsOf(grams.join(dupGrams, Seq("g"), "left_semi"), n)
  }

  /** Merge overlapping n-gram hit START positions into closed spans (the
    * pos - row_number island trick), per doc: (doc_id, span_start,
    * span_end, span_tokens). The window is partitioned by doc_id, never
    * global. Shared by [[duplicatedSpans]] / [[scrubSpans]] (all
    * occurrences) and [[scrubSpansKeepOne]] (non-canonical only).
    */
  private def islandsOf(hits: DataFrame, n: Int): DataFrame = {
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("grp", col("pos") - row_number().over(wd).cast("long"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1).cast("long")).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(n).cast("long")).as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))
  }

  /** The REMOVE half of exact-substring dedup: drop every token position
    * covered by a duplicated span (aggressive boilerplate scrub — all
    * occurrences go, the common choice for template/boilerplate runs;
    * [[scrubSpansKeepOne]] is Lee et al.'s keep-one variant with the
    * global canonical-occurrence pick). Returns per doc the
    * token counts and the md5 of the space-joined surviving token stream
    * (a token-stream scrub: original separators are not reconstructed).
    *
    * Scale shape: the span join is an ANTI join equi-keyed on doc_id with
    * a per-row range predicate — islands per doc are few and disjoint, so
    * the per-key work is bounded; everything else is doc_id-keyed
    * aggregation.
    */
  def scrubSpans(docs: DataFrame, n: Int = 10): DataFrame =
    scrubAgainst(docs, duplicatedSpans(docs, n))

  /** The KEEP-ONE half of exact-substring dedup (Lee et al. 2022's actual
    * output: one copy of each duplicated substring survives), at n-gram
    * granularity: for each duplicated n-gram, its CANONICAL occurrence is
    * the globally first one (min (doc_id, pos) — a total order, so the
    * pick is deterministic and engine-reproducible); only NON-canonical
    * occurrences scrub. Two identical documents keep the lower-doc_id
    * copy verbatim; a within-doc repeat keeps its first occurrence.
    * Granularity caveat (documented, spec-pinned): where a canonical
    * occurrence of one gram overlaps a non-canonical occurrence of
    * another, the overlap scrubs — the gram-level relational
    * approximation of Lee et al.'s maximal-substring clusters.
    *
    * Scale shape: [[scrubSpans]] plus ONE more gram-keyed aggregation
    * (the canonical pick, a struct-min — no window over the corpus) and
    * one equi-join on the gram hash; everything stays keyed on g or
    * doc_id.
    */
  def scrubSpansKeepOne(docs: DataFrame, n: Int = 10): DataFrame = {
    val grams = gramHashes(docs, n)
    // ONE gram-keyed aggregation carries both the duplicate test (count)
    // and the canonical pick (min struct) -- the old shape shuffled the
    // gram relation by g three times (count agg, semi-join back, canon agg
    // over the hits); the min over ALL occurrences equals the min over
    // duplicated ones once filtered to count > 1, so folding the pick into
    // the count agg drops one full aggregation and the semi-join to two
    // gram-keyed passes (agg + join)
    val dupCanon = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("c"))
      .where(col("cnt") > 1)
      .select(col("g"), col("c"))
    val nonCanon = grams.join(dupCanon, "g")
      .where(!(col("doc_id") === col("c.doc_id") && col("pos") === col("c.pos")))
      .select(col("doc_id"), col("pos"))
    scrubAgainst(docs, islandsOf(nonCanon, n))
  }

  /** Scrub every token position inside `spans` (doc_id, span_start,
    * span_end, ...) out of `docs`' token streams: per doc the token
    * counts and the md5 of the space-joined survivors — the shared tail
    * of [[scrubSpans]] and [[scrubSpansKeepOne]].
    */
  private def scrubAgainst(docs: DataFrame, spans: DataFrame): DataFrame = {
    val toks = toksArr
    val base = docs.select(col("doc_id").cast("long").as("doc_id"),
      posexplode(toks).as(Seq("pos", "term")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("term"))
    val sp = spans.select(
      col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val kept = base.join(sp,
      base("doc_id") === col("s_doc") &&
        base("pos") >= col("span_start") && base("pos") <= col("span_end"),
      "left_anti")
    val agg = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("term")))),
        x => x.getField("term"))).as("joined"))
    val totals = base.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        md5(coalesce(col("joined"), lit(""))).as("scrubbed_hash"))
  }

  /** Canonical form of a web URL for crawl-level dedup (the CCNet /
    * RefinedWeb first pass: the same page is fetched many times under
    * trivially-different URLs). Pure Catalyst string ops: lowercase the
    * scheme+host, drop the scheme, a leading `www.`, the `#fragment`,
    * `utm_*` tracking params (and a then-empty `?`), a trailing
    * `index.html`, and a trailing slash.
    */
  def canonicalUrl(url: Column): Column = {
    // lowercase scheme+host only: everything up to the first '/' after '//'
    val noScheme = regexp_replace(url, "(?i)^[a-z][a-z0-9+.-]*://", "")
    val hostLower = concat(
      lower(regexp_extract(noScheme, "^([^/]*)", 1)),
      regexp_replace(noScheme, "^[^/]*", ""))
    val noWww = regexp_replace(hostLower, "^www\\.", "")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "([?&])utm_[^&#]*", "$1")
    // repair the query string the utm removal may have mangled:
    // "?&x" -> "?x", "a&&b" -> "a&b", then a dangling "?"/"&" tail goes
    val cleanQ = regexp_replace(
      regexp_replace(regexp_replace(noUtm, "\\?&+", "?"), "&{2,}", "&"),
      "[?&]+$", "")
    val noIndex = regexp_replace(cleanQ, "/index\\.html?$", "/")
    regexp_replace(noIndex, "/$", "")
  }

  /** One row per canonical URL: the newest fetch wins (max `warc_ts`,
    * ties to max `doc_id` — both total orders, so the choice is
    * deterministic). Returns (canon_url, doc_id, n_versions). One shuffle
    * keyed on canon_url; the per-key window never sees more rows than the
    * re-fetch count of a single page.
    */
  def urlKeepLatest(corpus: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_url"))
      .orderBy(col("warc_ts").desc, col("doc_id").desc)
    corpus
      .select(canonicalUrl(col("url")).as("canon_url"),
        col("warc_ts"), col("doc_id").cast("long").as("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_versions", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("canon_url"))))
      .where(col("rk") === 1)
      .select(col("canon_url"), col("doc_id"), col("n_versions").cast("long").as("n_versions"))
  }
}
