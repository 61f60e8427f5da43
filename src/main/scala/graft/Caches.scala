package graft

import org.apache.spark.sql.DataFrame

/** Registry for persisted intermediates whose lifetime is "until the
  * current query's result is materialized".
  *
  * Operators like the banded-LSH digest relation, the connected-components
  * label fixpoint, and the IVF training set must stay cached while the
  * caller consumes the returned lazy plan (unpersisting inside the operator
  * would force a full lineage recompute at the consuming action). But they
  * must not outlive that consumption either: e17/e19/e20 each build their
  * own digest caches, so a bench or driver run that never cleans up stacks
  * a new set of cached relations per query for the life of the session.
  *
  * Contract: operators register what they persist via [[persistTracked]] /
  * [[register]]; the per-query harnesses (Verify, Bench, and the smoke
  * sweep) call [[drain]] after each query's result is fully materialized.
  * Tests that call tracked operators directly may skip draining — their
  * sf0.001 caches are tiny and die with the suite JVM.
  *
  * Tracking is per-thread: a query's plan is built and consumed on one
  * caller thread, so scoping the registry with a ThreadLocal means two
  * queries running concurrently in one JVM (parallel test suites, a
  * multithreaded driver) cannot drain each other's persists mid-plan.
  */
object Caches {
  private val tracked =
    ThreadLocal.withInitial[java.util.ArrayDeque[DataFrame]](() => new java.util.ArrayDeque[DataFrame]())

  /** Persist `df` (default MEMORY_AND_DISK) and register it for the next
    * [[drain]]. Returns `df` for chaining.
    */
  def persistTracked(df: DataFrame): DataFrame = { df.persist(); register(df) }

  /** Register an already-persisted frame for the next [[drain]]. */
  def register(df: DataFrame): DataFrame = { tracked.get.add(df); df }

  /** Unpersist every frame tracked on the calling thread. Call after the
    * consuming action — the parquet write, collect, or count that
    * materializes the query result — on the same thread that built the plan.
    */
  def drain(): Unit = {
    val q = tracked.get
    var df = q.poll()
    while (df != null) { df.unpersist(); df = q.poll() }
  }

  /** SESSION-lifetime memo for intermediates shared ACROSS queries (the
    * per-thread [[drain]] registry is per-query). First use builds,
    * persists, and eagerly materializes the frame (the eager count pins the
    * cache before the caller's drain unpersists upstream per-query caches
    * the plan references — e.g. connectedComponents' label fixpoint);
    * later uses return the cached frame. Used for the LSH verified-pair
    * graph and its components closure, which e17/e19/e28/e46 would
    * otherwise each recompute from scratch (~17 s of a 104 s bench at
    * sf0.1). The memoized relations are pair/label tables — O(candidate
    * pairs), tiny relative to the corpus at any scale. [[clearMemo]] frees
    * them (harness end / tests that mutate their inputs).
    *
    * `version` names the state of the files the frame reads. An entry
    * built at another version is unpersisted and rebuilt, and it must be
    * unpersisted first: Spark's cache manager matches a plan over files
    * whatever their current listing, so the fresh build would otherwise
    * be served the stale copy.
    *
    * The IVF and PQ searches (`Similarity.ivfTopK`/`pqTopK` with a
    * `memoKey`) also keep their encoded index here: `(id, list_id, emb)`
    * for IVF, `(id, code0..code{m-1})` for PQ. Its key is the search kind,
    * the `memoKey`, the id column and the input frame's analyzed-plan
    * semantic hash, so another filter under the same `memoKey` builds its
    * own index; its version is the frame's sorted input files, so an
    * appended file replaces it. It lives until [[clearMemo]], and unlike
    * the pair tables it is corpus-sized: one cached copy of the corpus
    * (IVF, as doubles) or of its codes (PQ, m ints per vector) per key.
    */
  private val memoMap =
    scala.collection.concurrent.TrieMap.empty[String, (String, DataFrame)]

  def memo(key: String, version: String = "")(build: => DataFrame): DataFrame =
    memoMap.get(key) match {
      case Some((`version`, df)) => df
      case stale =>
        stale.foreach { e => if (memoMap.remove(key, e)) e._2.unpersist() }
        val df = build.persist()
        df.count(): Unit // pin the cache before upstream per-query caches drain
        memoMap.putIfAbsent(key, (version, df)) match {
          case Some((_, prior)) => df.unpersist(); prior
          case None => df
        }
    }

  /** SESSION-lifetime memo for DRIVER-SIDE values shared across queries —
    * trained model artifacts whose computation is a multi-job Spark
    * fixpoint but whose result is a plain broadcast-sized array (k-means
    * centroids, PQ codebooks). e18/e35/e58 train the identical
    * 8-centroid Lloyd fixpoint and e57/e59/f22 the identical per-subspace
    * codebooks; the trainings are deterministic (fixed-point accumulation,
    * see [[graft.llm.Similarity.MeanScale]]) so sharing the value cannot
    * change any result. Keys embed the data dir + every training
    * parameter. The production shape too: train once, serve everywhere.
    */
  private val memoValMap = scala.collection.concurrent.TrieMap.empty[String, Any]

  def memoVal[A](key: String)(build: => A): A =
    memoValMap.getOrElseUpdate(key, build).asInstanceOf[A]

  /** Non-building peek / explicit put — for memo users whose "build" is
    * a side effect of work they do anyway (e.g. a snapshot-manifest
    * read's inferred schema, r18): peek for a prior value, do the work
    * with or without it, put the result for the next caller.
    */
  def peekVal[A](key: String): Option[A] =
    memoValMap.get(key).map(_.asInstanceOf[A])

  def putVal(key: String, v: Any): Unit = { memoValMap.putIfAbsent(key, v); () }

  def clearMemo(): Unit = {
    memoMap.values.foreach(_._2.unpersist())
    memoMap.clear()
    memoValMap.clear()
  }

  /** Engine-internal short-lived persists (r18): the per-file stats
    * aggregate is consumed twice within one sidecar maintenance call
    * (zero-row-file discovery collect + the segment write) — persisting
    * it halves the data scans of every ANALYZE/maintenance pass. A
    * dedicated registry (not [[persistTracked]]) because the engine owns
    * the lifetime: the maintenance call drains it before returning, so
    * nothing leaks into the caller's query lifetime.
    */
  private val statsTracked =
    ThreadLocal.withInitial[java.util.ArrayDeque[DataFrame]](() => new java.util.ArrayDeque[DataFrame]())

  def persistStats(df: DataFrame): DataFrame = {
    df.persist(); statsTracked.get.add(df); df
  }

  def drainStats(): Unit = {
    val q = statsTracked.get
    var df = q.poll()
    while (df != null) { df.unpersist(); df = q.poll() }
  }

  /** Schema-memoized parquet read of an IMMUTABLE path (r18 optimization
    * round, guide §1/§6): `spark.read.parquet(dir)` runs a footer
    * schema-inference job on every call — ~20–80 ms of driver+job fixed
    * cost that the profiler showed repeated in EVERY query (each source
    * table, each probe of a built index). The testdata corpus is
    * read-only and an index root's schema is construction-constant
    * (folds/tombstone compactions rewrite the same columns), so the
    * schema from the first read serves every later one; passing it via
    * `spark.read.schema(...)` skips the inference job entirely while the
    * FILE LISTING stays fresh per read (data changes are still seen —
    * only the schema is pinned). At cluster scale the same call is 1+
    * object-store GETs of footer latency per statement — the fix
    * transfers. Do NOT use for paths whose schema can change in-session
    * (warehouse tables: Database keeps an epoch-invalidated cache).
    */
  def readParquetStableSchema(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val key = s"parquet-schema|$path"
    memoValMap.get(key) match {
      case Some(sc) =>
        s.read.schema(sc.asInstanceOf[org.apache.spark.sql.types.StructType])
          .parquet(path)
      case None =>
        val df = s.read.parquet(path)
        memoValMap.putIfAbsent(key, df.schema)
        df
    }
  }
}
