package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Process-wide serving history and its helpers.
  *
  * The reference runs ONE History per server process (History.h:25-77;
  * StartCompletionServer allocates it once); every query entry point --
  * with or without an explicit cache argument -- answers through it. The
  * Spark analog: [[QueryHistory.default]] is the one deterministic owner
  * of persisted atom relations for every facade ([[Executor]],
  * [[IndexExecutor]], [[graft.api.Search]]) that is not handed an explicit
  * [[IndexQueryCache]]. There is deliberately NO other persist path in the
  * query engine (the round-3 one-way process persist budget is deleted):
  * eviction is always the history's LRU + byte budget, so a long-lived
  * serving session's executor storage is bounded and decode-once
  * memoization never silently dies.
  */
object QueryHistory {

  /** Reference History byte budget default (Globals.cpp: HISTORY_MAX_SIZE,
    * 32 MB). Explicit caches default to this.
    */
  val DefaultMaxBytes: Long = 32L << 20

  /** The process-wide default history. Sized above the class default
    * (serving boxes are larger than the 2008 reference default; override
    * with -Dgraft.history.maxBytes / -Dgraft.history.maxEntries).
    */
  lazy val default: IndexQueryCache = new IndexQueryCache(
    maxEntries = sys.props.getOrElse("graft.history.maxEntries", "200").toInt,
    maxBytes = sys.props.getOrElse("graft.history.maxBytes", (256L << 20).toString).toLong)

  /** Stable per-object ids for corpus DataFrames: the logical path keys
    * its history entries by corpus INSTANCE (a serving session holds one
    * corpus DataFrame), never by plan equality -- two in-memory corpora
    * with identical schemas must not share cache rows, and
    * System.identityHashCode alone can collide. WEAK keys: a session that
    * builds a fresh frame per request (`spark.read.parquet(...)` then
    * `Executor.topK`) must not accumulate one retained plan per request
    * forever -- a collected corpus simply gets a new id next time, and its
    * orphaned history entries age out of the LRU. Identity semantics hold
    * because Dataset does not override equals/hashCode (Object identity);
    * only DataFrames are passed here.
    */
  private val corpusIds = new java.util.WeakHashMap[AnyRef, java.lang.Long]()
  private val nextCorpusId = new java.util.concurrent.atomic.AtomicLong(0L)
  def corpusId(corpus: AnyRef): Long = corpusIds.synchronized {
    val existing = corpusIds.get(corpus)
    if (existing != null) existing
    else {
      val id = nextCorpusId.incrementAndGet()
      corpusIds.put(corpus, id)
      id
    }
  }

  /** Estimated logical bytes of a (persisted) relation: one aggregation
    * job over the cached data summing per-column sizes (fixed-width types
    * by their default size, strings/binary/arrays by measured length).
    * The analog of the reference History recording each QueryResult's
    * buffer size (History.h:61-77); runs on the in-memory relation the
    * query was about to materialize anyway.
    */
  def estimateBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    val perRow: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(length(col(f.name)).cast("long"), lit(0L)) + lit(16L)
        case at: ArrayType =>
          greatest(coalesce(size(col(f.name)).cast("long"), lit(0L)), lit(0L)) *
            lit(at.elementType.defaultSize.toLong) + lit(16L)
        case dt => lit(dt.defaultSize.toLong)
      }
    }
    val sumCol = perRow.reduceOption(_ + _).getOrElse(lit(0L))
    val row = df.agg(sum(sumCol).as("bytes")).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }
}

/** History for the PHYSICAL path (reference: History.h:25-110 +
  * copyAndFilter, CompleterBase.cpp:2435-2504, which the reference applies
  * to index results -- the HYB blocks are only touched when no history
  * entry can be filtered): an LRU of atom -> persisted scored posting
  * relation, bounded by entry count AND a byte budget (History's
  * HISTORY_MAX_SIZE). A prefix atom extending a cached one (`schedul*`
  * after `schedu*`) -- or an exact word under a cached prefix -- is
  * answered by FILTERING the cached in-memory relation: zero block
  * locate/decode jobs. Scores stay correct because BM25 is per-(doc, term)
  * with global df, unchanged by narrowing the term set.
  *
  * Entries are persisted Datasets (MEMORY_AND_DISK), measured once at
  * insert ([[QueryHistory.estimateBytes]]) and unpersisted on evict.
  * Eviction is the ONE deliberate unpersist in the query path: it is
  * deterministic (capacity/byte overflow, least-recently-used entry) --
  * asynchronous GC-timed reaping was tried and rejected because
  * unpersisting a SQL-cached plan while a query may still be executing
  * corrupted results. An LRU victim is by construction the entry least
  * likely to be referenced by an in-flight query.
  *
  * Hand-out protection is two-layered: the in-flight guard covers the
  * cache's own copyAndFilter derivations end-to-end, and the
  * [[IndexQueryCache.borrow]] scope extends the same refcount discipline
  * to EVERY relation handed out inside a caller-delimited region (the
  * serving facade wraps each request in one), so an exact hit cannot be
  * evicted mid-materialization under byte pressure. Outside any borrow
  * scope the old mitigation still applies: a hit refreshes recency, so
  * the LRU victim is by construction the entry least likely in flight.
  */
class IndexQueryCache(maxEntries: Int = 200,
                      maxBytes: Long = QueryHistory.DefaultMaxBytes) {
  import QueryParser._

  /** Entries are keyed by (index dir | corpus id, index epoch, atom): one
    * cache safely serves several readers / corpora / survives a rebuild
    * into the same dir without serving another index's postings.
    */
  private type Key = (String, Long, Atom)
  /** owned = this cache persisted the relation and may unpersist it on
    * evict. A relation can arrive already SQL-cached (Spark's cache
    * manager is keyed by semantic plan, so a semantically-equal relation
    * persisted elsewhere shares one cache entry): its bytes still count
    * against the budget (the entry pins that much storage) but eviction
    * must not unpersist what another owner may still serve.
    */
  /** inflight: derivations currently materializing outside the lock from
    * this entry's relation, plus open borrow scopes holding it.
    */
  /** dropped: the entry left the map (clear) while references were still
    * out; the LAST reference release performs the deferred unpersist --
    * without it a clear() during a borrow scope would leak the scope's
    * whole working set of persisted relations until JVM exit.
    */
  private case class Entry(df: DataFrame, bytes: Long, owned: Boolean,
                           pinned: Boolean = false,
                           inflight: java.util.concurrent.atomic.AtomicInteger =
                             new java.util.concurrent.atomic.AtomicInteger(0),
                           dropped: java.util.concurrent.atomic.AtomicBoolean =
                             new java.util.concurrent.atomic.AtomicBoolean(false))

  /** Release one reference; if the entry was dropped from the map while
    * referenced, the last release unpersists (double-unpersist on a
    * release race is a harmless no-op in Spark).
    */
  private def releaseRef(e: Entry): Unit =
    if (e.inflight.decrementAndGet() == 0 && e.dropped.get() && e.owned)
      e.df.unpersist()

  /** Pinned entries and bases of in-flight derivations are never victims
    * (an unpersist under a materializing filter-of-base corrupted results
    * -- round 3); the in-flight skip is transient. Its monitor guards every
    * compound step below.
    */
  private val lru = new graft.core.Lru[Key, Entry]("history", maxEntries, maxBytes,
    weigher = _.bytes,
    evictable = e => !e.pinned && e.inflight.get() == 0,
    onEvict = e => if (e.owned) e.df.unpersist())

  /** While true, inserts are PINNED: exempt from LRU/byte eviction for the
    * cache's lifetime (reference `--keep-in-history-queries`,
    * StartCompletionServer.cpp 'A': results for the named queries are
    * computed once and never leave the history -- typically the expensive
    * one-letter prefixes). Startup-only switch, set around the keep-query
    * pass before the server accepts traffic; pinned bytes still count
    * against the budget so the remaining headroom for unpinned entries is
    * honest.
    */
  @volatile private var pinInserts = false

  /** Run `f` with insert-pinning on (see [[pinInserts]]). */
  def pinningInserts[T](f: => T): T = {
    pinInserts = true
    try f finally pinInserts = false
  }

  /** Borrow scope: while `f` runs on THIS thread, every entry the cache
    * hands out (exact hit, filtered-derivation base, fresh insert) holds
    * an extra in-flight reference, released when the scope exits. This
    * closes the documented residual hazard of the bare hand-out path: a
    * returned relation could be evicted -- and its Spark cache entry
    * unpersisted -- by ANOTHER request's oversized insert (or even this
    * request's own later insert) while the caller's job was still
    * materializing it. Wrap one request's parse -> evaluate ->
    * materialize in `borrow { ... }` (the serving facade
    * [[graft.api.Search.searchIndex]] does) and eviction skips its
    * relations until the scope closes; the discipline and the guard are
    * the same as the copyAndFilter `inflight` path. Scopes nest; the
    * thread-local frame costs nothing when no scope is active.
    *
    * Budget bound while scopes are open: every handed-out entry is
    * inflight-pinned for the scope's duration, so under a small byte
    * budget eviction may free nothing and [[cachedBytes]] can
    * exceed `maxBytes` by up to ONE request's distinct-atom working set
    * per concurrently open scope. Operators sizing `maxBytes` should
    * treat the budget as advisory headroom, not a hard cap, while
    * requests are in flight.
    */
  def borrow[T](f: => T): T = {
    val prev = borrowFrame.get()
    val frame = new java.util.ArrayList[Entry]()
    borrowFrame.set(frame)
    try f finally {
      frame.forEach(releaseRef)
      borrowFrame.set(prev)
    }
  }

  private val borrowFrame = new ThreadLocal[java.util.ArrayList[Entry]]()

  /** Register a handed-out entry with the active borrow scope, if any.
    * Called under the monitor (entry liveness) -- the increment lands
    * before any evictor can next examine the entry.
    */
  private def lend(e: Entry): Unit = {
    val frame = borrowFrame.get()
    if (frame != null) { e.inflight.incrementAndGet(); frame.add(e) }
  }

  /** Number of pinned entries (spec hook). */
  def pinnedCount: Int = count(_.pinned)

  /** Number of entries some request still holds in flight (spec hook):
    * 0 whenever no request is running, timed-out ones included.
    */
  def inflightCount: Int = count(_.inflight.get() > 0)

  private def count(p: Entry => Boolean): Int = {
    var n = 0
    lru.forEach((_, e) => if (p(e)) n += 1)
    n
  }

  /** Exact hits; filtered hits (a miss on the exact key answered by
    * filtering a cached broader prefix); misses that computed.
    */
  def hits: Long = lru.hits
  def filteredHits: Long = lru.synchronized(filtered)
  def misses: Long = lru.synchronized(lru.misses - filtered)
  def evictions: Long = lru.evictions
  private var filtered = 0L

  /** Scored relation for `atom`: exact hit, filter of a cached broader
    * prefix, or compute (+persist).
    *
    * The monitor guards only map lookups/puts -- `compute`, persist and
    * the size measurement run blocking driver jobs and MUST NOT serialize
    * a serving session's unrelated queries behind one miss. Two threads
    * missing the same atom concurrently may both compute; the loser's
    * handle is simply dropped (its semantically-equal plan shares the
    * winner's single Spark cache entry -- see the in-method comment).
    */
  def atomScored(dir: String, epoch: Long, atom: Atom,
                 compute: Atom => DataFrame): DataFrame = {
    val key = (dir, epoch, atom)
    val fast: Either[(Option[DataFrame], Option[Entry]), DataFrame] = lru.synchronized {
      val exact = lru.get(key)
      if (exact != null) { lend(exact); Right(exact.df) }
      else {
        // copyAndFilter: the narrowing predicate for `atom` under a cached
        // broader prefix entry, if either is expressible (plan-only, no jobs)
        val want = atom match {
          case w: Word if !w.not && !w.fuzzy && !w.synonym && !w.exact && w.prefix =>
            Some((w.text, col("term").startsWith(w.text)))
          case w: Word if !w.not && !w.fuzzy && !w.synonym =>
            Some((w.text, col("term") === w.text))
          case _ => None
        }
        val narrowed = want.flatMap { case (text, pred) =>
          var best: Option[(Word, Entry)] = None
          lru.forEach { (k, v) =>
            k match {
              case (`dir`, `epoch`, c: Word) if c.prefix && !c.not &&
                  text.startsWith(c.text) &&
                  best.forall(_._1.text.length < c.text.length) =>
                best = Some((c, v))
              case _ => ()
            }
          }
          best.map { case (broader, entry) =>
            // deriving from the broader entry is an access: refresh its
            // recency so the hottest base prefix is not the next LRU
            // victim, and mark it in flight so eviction cannot unpersist
            // it while the derived plan materializes outside the lock
            lru.touch((dir, epoch, broader))
            entry.inflight.incrementAndGet()
            lend(entry) // base stays guarded for the caller's whole scope
            (entry.df.filter(pred), entry)
          }
        }
        narrowed match {
          case Some((df, base)) => filtered += 1; Left((Some(df), Some(base)))
          case None => Left((None, None))
        }
      }
    }
    fast match {
      case Right(df) => df
      case Left((planOpt, baseOpt)) =>
        try {
        // outside the lock: may run driver jobs (block locate, decode,
        // size measurement)
        val plan0 = planOpt.getOrElse(compute(atom))
        // shape the persisted relation to the session's query parallelism:
        // atom relations inherit the block scan's partitioning (its file
        // splits), but every WARM query re-reads them, paying
        // per-partition task overhead each time. coalesce to
        // spark.sql.shuffle.partitions -- the latency-phase setting (8)
        // locally, a no-op at production partition counts (coalesce never
        // raises), so the shape stays scale-safe.
        val owned = plan0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
        val target = scala.util.Try(
          plan0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(0)
        // coalesce only what WE persist -- a relation that arrived
        // persisted keeps its owner's shape (coalescing it would hide its
        // storage level and double-persist a derived plan)
        val plan = if (owned && target > 0) plan0.coalesce(target) else plan0
        val persisted =
          if (owned) plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else plan // arrived persisted: owned elsewhere, never unpersist it
        val bytes = QueryHistory.estimateBytes(persisted)
        lru.synchronized {
          val e = Entry(persisted, bytes, owned, pinned = pinInserts)
          val won = lru.putIfAbsent(key, e)
          if (won ne e) {
            // Another thread beat us to the insert. When the two threads'
            // plans are semantically equal they share ONE Spark cache
            // entry, which the winner's eviction will release --
            // unpersisting here would yank that shared entry out from
            // under the winner's possibly in-flight query (the round-3
            // corruption scenario). When they are NOT equal (one raced
            // through the cold compute, the other filtered a cached
            // broader prefix), ours is a distinct entry nobody references:
            // release it (only if WE persisted it) or it pins executor
            // storage until JVM exit.
            if (owned && !persisted.queryExecution.analyzed
                  .sameResult(won.df.queryExecution.analyzed))
              persisted.unpersist()
          }
          // under the monitor the insert made: no evictor sees the entry
          // before its borrow scope does
          lend(won)
          won.df
        }
        } finally baseOpt.foreach(releaseRef)
    }
  }

  /** Current estimated cached bytes / entry count (spec hooks). */
  def cachedBytes: Long = lru.weight
  def size: Int = lru.size

  def clear(): Unit = lru.synchronized {
    // referenced entries (in-flight derivations, active borrow scopes)
    // are marked dropped instead of unpersisted here; the LAST reference
    // release performs the deferred unpersist (releaseRef) -- nothing
    // leaks, and nothing is yanked from under a materializing query
    lru.forEach { (_, e) =>
      if (e.owned) {
        e.dropped.set(true)
        if (e.inflight.get() == 0) e.df.unpersist()
      }
    }
    lru.clear()
    filtered = 0
  }
}
