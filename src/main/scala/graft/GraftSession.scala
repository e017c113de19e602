package graft

import org.apache.spark.sql.SparkSession

/** Central session construction + runtime tuning for the engine.
  *
  * Every session the engine builds (Bench, Verify, Main, the test
  * harness) flows through here, so engine-critical runtime confs are
  * set in code — not in ops docs that a deployment can miss.
  *
  * The one load-bearing conf: Spark plans the bounded top-k
  * [[graft.operators.TopKAggregator]] (a native TypedImperativeAggregate
  * over a packed-primitive buffer) as ObjectHashAggregate, which
  * silently switches to a *sort-based fallback* once a partition sees
  * more than `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * distinct groups (default 128). The fallback serializes every live
  * buffer, then sorts and re-aggregates the remaining input rows one by
  * one, so each row pays a sort instead of an O(log k) heap insert. A
  * cheaper buffer format shrinks the constant but not that shape: the
  * threshold measured 54 s → 14 s on 200-group exact ANN and
  * 126 s → 5 s on LSH ANN at sf0.1 when the buffer was still Kryo, and
  * the Kryo-buffered `Aggregator`s ([[graft.operators.TermTopKAggregator]],
  * the Misra–Gries sketch) still pay that full price.
  * 128 groups is *tiny* — any real query set trips it.
  *
  * Raising the threshold is safe for this engine's aggregations by
  * construction: the only ObjectHashAggregate in the hot path is the
  * top-k buffer, whose per-group state is O(k) (three primitive arrays),
  * and the number of groups per partition is bounded by the broadcast
  * query-set size — if the query block fits in memory to broadcast
  * (dim doubles per row), the per-group buffers (3·k words per row)
  * fit a fortiori. Query sets too large to broadcast go through
  * [[graft.operators.Knn.knnJoinBlocked]], which bounds the group count
  * per pass.
  */
object GraftSession {

  val ObjectHashFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** 2^24 groups — far above any broadcastable query set, while still
    * bounding the blast radius for non-engine object aggs (collect_list
    * and friends) that genuinely need the sort fallback at extreme
    * cardinality.
    */
  val ObjectHashFallbackValue: Int = 1 << 24

  /** Apply engine-required runtime confs to an existing session.
    * Idempotent and cheap — called defensively from operator entry
    * points so a user-built session gets the fix too.
    *
    * NTZ inference is disabled because the engine's time-arithmetic
    * surface (`unix_micros`, range joins, sessionization) operates on
    * TIMESTAMP; tz-less parquet (the pandas/pyarrow default) would
    * otherwise surface as TIMESTAMP_NTZ and fail analysis. Under the
    * engine's pinned UTC session the two types denote the same instants,
    * so reading tz-less data as TIMESTAMP is exact.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set(ObjectHashFallbackKey, ObjectHashFallbackValue.toString)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Report a bucketed+sorted table scan's output ordering (off by
    // default since SPARK-28595 because it lists files at PLANNING
    // time to verify the ordering is valid — i.e. one file per
    // bucket). The engine's id-keyed vector store
    // ([[graft.operators.VectorStore]]) is written one-file-per-bucket
    // by construction exactly so its merge-join side needs neither
    // exchange NOR sort; without this conf Spark re-sorts the store
    // side of every backfill re-rank, re-paying the work the layout
    // pre-paid. The planning-time listing is work the scan does
    // anyway, and multi-file buckets stay correct (the listing is how
    // Spark decides the ordering can't be trusted).
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
  }

  /** Whole-stage-codegen compile cache entries (static conf, sized at
    * CodeGenerator class-init from the active session). The default is
    * 100 — an LRU far smaller than one pass over this engine's query
    * surface (~15 generated classes per query × 188 queries ≈ 3k
    * fragments), so EVERY repeat invocation of EVERY query re-pays
    * janino compilation (~20–40 ms per class, measured: q121 alone
    * recompiles 43 classes ≈ 1.7 s) instead of hitting the cache. Any
    * long-running session — a query service, the bench, Verify —
    * compiles each fragment once under this size. Scale-independent:
    * this is a per-JVM compile cache (driver AND executors), not a
    * data-sized structure; 8192 entries ≈ tens of MB of generated
    * classes, and entries are weak-referenced per classloader. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
  val CodegenCacheValue: Int = 8192

  /** A tuned local session: `cpus` worker threads, shuffle partitions
    * sized to match (local mode has no executor fan-out to feed; 200
    * tiny tasks only add scheduling overhead), UTC so timestamp text is
    * portable across engines.
    */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(ObjectHashFallbackKey, ObjectHashFallbackValue.toString)
      .config(CodegenCacheKey, CodegenCacheValue.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
    s
  }
}
