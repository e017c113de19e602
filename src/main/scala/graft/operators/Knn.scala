package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Distributed brute-force k-nearest-neighbors — the reference engine's
  * entire query surface (`/root/reference/src/main/java/Hadoop.java`),
  * re-expressed Spark-first, plus the generalized `knnJoin` a
  * similarity-search pipeline needs.
  *
  * Physical shape (mirrors the reference's replicated side input,
  * `Hadoop.java:66-71`, but through Catalyst): the *query* side is
  * broadcast, the *item* (train) side streams partition-parallel; the
  * cross product plans as BroadcastNestedLoopJoin; the per-query top-k is
  * the native bounded [[TopKAggregator]] (ObjectHashAggregate) with a
  * map-side partial pass, so the shuffle carries only
  * `partitions × |queries| × k` packed rows. [[classify]] votes over each
  * query's top-k array in the same stage as the final aggregate, so
  * classification needs one exchange. At 100 TB the item side never needs to
  * be co-located or broadcast — only the query block does; for query sets
  * too large to broadcast, split the query set into broadcastable blocks
  * and union the results (block-nested variant, SURVEY §7.4).
  */
object Knn {

  /** For each row of `queries`, the k nearest rows of `items`.
    *
    * @param queries   small(er) side; broadcast
    * @param items     large side; streamed
    * @param k         neighbors per query
    * @param queryId   unique id column in `queries`
    * @param itemId    unique id column in `items`
    * @param queryVec  array<numeric> feature column in `queries`
    * @param itemVec   array<numeric> feature column in `items`
    * @param itemLabel optional label column in `items` (defaults to itemId)
    * @param metric    "squaredEuclidean" (reference semantics,
    *                  Hadoop.java:155-165) or "cosine" (1 − cos sim)
    * @return (query_id, rank ∈ 1..k, neighbor_id, neighbor_label, dist),
    *         rank ordered by (dist asc, neighbor_id asc) — deterministic,
    *         unlike the reference's input-order k-boundary ties.
    */
  def knnJoin(
      queries: DataFrame,
      items: DataFrame,
      k: Int,
      queryId: String = "query_id",
      itemId: String = "item_id",
      queryVec: String = "query_vec",
      itemVec: String = "item_vec",
      itemLabel: Option[String] = None,
      metric: String = "squaredEuclidean"): DataFrame =
    ranked(neighbors(queries, items, k, queryId, itemId, queryVec, itemVec,
      itemLabel, metric))

  /** (q_id, nbrs): each query's k nearest items as one ascending
    * `array<struct<dist,id,label>>` — the shared core of [[knnJoin]] and
    * [[classify]]. */
  private def neighbors(
      queries: DataFrame,
      items: DataFrame,
      k: Int,
      queryId: String,
      itemId: String,
      queryVec: String,
      itemVec: String,
      itemLabel: Option[String],
      metric: String): DataFrame = {

    // the bounded top-k agg must never hit ObjectHashAggregate's
    // 128-group sort-based fallback (4-27x measured cliff); set the
    // threshold even on user-built sessions — see GraftSession
    graft.GraftSession.tune(queries.sparkSession)

    val q = queries.select(
      col(queryId).cast("long").as("q_id"),
      col(queryVec).as("q_vec"))
    val it = items.select(
      col(itemId).cast("long").as("i_id"),
      col(itemVec).as("i_vec"),
      itemLabel.map(c => col(c).cast("long")).getOrElse(col(itemId).cast("long")).as("i_label"))

    val dist: Column = metric match {
      case "squaredEuclidean" => VectorFunctions.squaredEuclidean(col("q_vec"), col("i_vec"))
      case "cosine"           => VectorFunctions.cosineDistance(col("q_vec"), col("i_vec"))
      case "dot"              => -VectorFunctions.dotProduct(col("q_vec"), col("i_vec"))
      case m                  => throw new IllegalArgumentException(s"unknown metric: $m")
    }

    it.crossJoin(broadcast(q))
      .select(col("q_id"), dist.as("dist"), col("i_id"), col("i_label"))
      .groupBy(col("q_id"))
      .agg(TopK.topK(k)(col("dist"), col("i_id"), col("i_label")).as("nbrs"))
  }

  /** [[neighbors]]' arrays as one row per (query, rank). */
  private def ranked(nbrs: DataFrame): DataFrame =
    nbrs
      .select(col("q_id"), posexplode(col("nbrs")).as(Seq("pos", "n")))
      .select(
        col("q_id").as("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("n.id").as("neighbor_id"),
        col("n.label").as("neighbor_label"),
        col("n.dist").as("dist"))

  /** Block-nested [[knnJoin]]: the 100 TB shape for query sets too large
    * to broadcast whole (SURVEY §7.4). The query set is split into
    * `blocks` hash-disjoint slices; each slice is broadcast and joined
    * against the full item table independently, and results union. Item
    * scans repeat `blocks` times — at scale that is the right trade:
    * the item table streams from storage partition-parallel, while
    * executor memory only ever holds one query slice.
    *
    * Result is identical to `knnJoin` (each query row's neighbors come
    * from its own slice's complete pass over the items).
    */
  def knnJoinBlocked(
      queries: DataFrame,
      items: DataFrame,
      k: Int,
      blocks: Int,
      queryId: String = "query_id",
      itemId: String = "item_id",
      queryVec: String = "query_vec",
      itemVec: String = "item_vec",
      itemLabel: Option[String] = None,
      metric: String = "squaredEuclidean"): DataFrame =
    ranked(blockedNeighbors(queries, items, k, blocks, queryId, itemId,
      queryVec, itemVec, itemLabel, metric))

  /** [[neighbors]] over `blocks` hash-disjoint query slices, unioned. */
  private def blockedNeighbors(
      queries: DataFrame,
      items: DataFrame,
      k: Int,
      blocks: Int,
      queryId: String,
      itemId: String,
      queryVec: String,
      itemVec: String,
      itemLabel: Option[String],
      metric: String): DataFrame = {
    require(blocks >= 1, "blocks must be >= 1")
    (0 until blocks).map { b =>
      val slice = queries.filter(pmod(col(queryId).cast("long"), lit(blocks)) === b)
      neighbors(slice, items, k, queryId, itemId, queryVec, itemVec, itemLabel, metric)
    }.reduce(_ unionAll _)
  }

  /** KNN classification: majority vote over the k nearest `train` rows.
    *
    * Correct plurality semantics by default (each neighbor = 1 vote; ties
    * broken toward the smallest label — deterministic). `legacyVote = true`
    * reproduces the reference's off-by-one vote
    * (`Hadoop.java:250-268`, SURVEY §2 #10): a label's effective count is
    * occurrences − 1, a winner needs ≥ 2 of the k votes, otherwise the
    * prediction is −1; ties toward the smallest label (the reference's
    * HashMap<int,int> iterates small non-negative keys in ascending
    * order, so first-strictly-greater keeps the smallest argmax).
    *
    * Physical shape: broadcast nested-loop cross product → partial
    * top-k → one exchange on the query id → final top-k, and the vote is
    * a projection over each query's top-k array in that same final stage
    * (tally each distinct label, take the greatest `(count, −label)`),
    * not a regroup of exploded neighbors. A query with no neighbors
    * (k = 0) gets no row.
    *
    * @param blocks query-side blocking factor: 1 (default) broadcasts the
    *               whole test set ([[knnJoin]]); > 1 splits it the way
    *               [[knnJoinBlocked]] does — the 100 TB shape when the
    *               query set itself exceeds broadcast size. Results
    *               identical.
    * @return (test_id, prediction)
    */
  def classify(
      train: DataFrame,
      test: DataFrame,
      k: Int,
      trainId: String,
      testId: String,
      trainVec: String,
      testVec: String,
      labelCol: String,
      legacyVote: Boolean = false,
      blocks: Int = 1): DataFrame = {

    val nbrs =
      if (blocks <= 1)
        neighbors(test, train, k, testId, trainId, testVec, trainVec,
          Some(labelCol), "squaredEuclidean")
      else
        blockedNeighbors(test, train, k, blocks, testId, trainId,
          testVec, trainVec, Some(labelCol), "squaredEuclidean")

    val labels = transform(col("nbrs"), n => n.getField("label"))
    val tallies = transform(array_distinct(labels), l => struct(
      size(filter(labels, _ === l)).as("cnt"), (-l).as("neg_label"), l.as("label")))
    val prediction =
      if (!legacyVote) array_max(tallies).getField("label")
      else
        // legacy: effective count = cnt − 1, strict > 0 to win → needs ≥ 2
        // occurrences; no winner → −1.
        coalesce(
          array_max(filter(tallies, _.getField("cnt") >= 2)).getField("label"),
          lit(-1L))

    nbrs
      .filter(size(col("nbrs")) > 0)
      .select(col("q_id").as("test_id"), prediction.as("prediction"))
  }

  /** Reference-parity sink (SURVEY §2 #11): `testId\tprediction` lines
    * ascending by id, one file — the exact shape of the reference's
    * `predictions/part-r-00000` (TextOutputFormat, single reducer,
    * Hadoop.java:270,300,308). One partition sorted locally writes the
    * same bytes as a global sort, without the range-sampling job a
    * global sort runs first; drop the single partition for a
    * partitioned write at scale.
    */
  def writePredictions(predictions: DataFrame, path: String): Unit =
    predictions
      .repartition(1)
      .sortWithinPartitions(col("test_id"))
      .select(col("test_id").cast("string"), col("prediction").cast("string"))
      .write.mode("overwrite").option("sep", "\t").csv(path)

  /** Fraction of predictions equal to the true label — the driver-side
    * evaluation the reference does by re-reading files positionally
    * (`Hadoop.java:318-344`), here a plain join + avg.
    */
  def accuracy(
      predictions: DataFrame,
      truth: DataFrame,
      truthId: String,
      truthLabel: String): DataFrame = {
    val t = truth.select(col(truthId).cast("long").as("test_id"),
      col(truthLabel).cast("long").as("label"))
    predictions.join(t, "test_id")
      .agg(
        sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("correct"),
        count(lit(1)).as("total"))
  }
}
