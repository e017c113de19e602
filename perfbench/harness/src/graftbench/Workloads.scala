package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Pq, SimilaritySearch}

/** What an operation reports besides its wall time: named phase times
  * (seconds) and, when traced, the duration of each layer call. */
final case class OpOut(phases: Map[String, Double], resultRows: Long)

/** One workload: a cold cycle of `coldOps` operations on a fresh
  * session, then warm operations until the window closes. Outputs are
  * kept and checked by [[verify]] after the window. */
trait Workload {
  /** Operations in one full cycle; the first cycle is the cold one, and
    * the warm window always ends on a cycle boundary, so every run
    * samples each operation kind equally often. */
  def coldOps: Int
  def minWarmOps: Int = 5
  def label(i: Int): String
  def op(i: Int, tr: Option[Tracer]): OpOut
  /** Indices of operations whose output is wrong, plus details. */
  def verify(nOps: Int, injectFault: Boolean): (Set[Int], Map[String, Any])

  protected def timed[T](name: String, tr: Option[Tracer],
      phases: mutable.Map[String, Double])(body: => T): T = {
    val s = System.nanoTime()
    val r = tr.fold(body)(_.layer(name)(body))
    phases(name) = (System.nanoTime() - s) / 1e9
    r
  }
}

/** The paper's pipeline: ARFF train/test -> KNN classify (k=3, legacy
  * vote) -> tab-separated predictions -> accuracy, through graft.Main. */
final class KnnClassify(spark: SparkSession, inputs: String, work: String)
    extends Workload {
  private val train = s"$inputs/knn/train.arff"
  private val test = s"$inputs/knn/test.arff"
  private val k = 3
  private val accuracies = mutable.Map[Int, Double]()
  def coldOps: Int = 1
  def label(i: Int): String = "classify"
  private def outDir(i: Int) = s"$work/knn/op-$i"

  def op(i: Int, tr: Option[Tracer]): OpOut = {
    val phases = mutable.Map[String, Double]()
    tr match {
      case None =>
        val (ms, acc) = graft.Main.run(spark, train, test, k, outDir(i))
        phases("knn.classify_write") = ms / 1e3
        accuracies(i) = acc
      case Some(_) =>
        // graft.Main.run's steps, one layer call at a time
        val (trainDf, testDf) = timed("arff.read", tr, phases) {
          (graft.sources.Arff.readLabeled(spark, train),
            graft.sources.Arff.readLabeled(spark, test))
        }
        timed("knn.classify_write", tr, phases) {
          val preds = graft.operators.Knn.classify(trainDf, testDf, k,
            trainId = "id", testId = "id", trainVec = "features", testVec = "features",
            labelCol = "label", legacyVote = true)
          graft.operators.Knn.writePredictions(preds, outDir(i))
        }
        accuracies(i) = timed("knn.accuracy", tr, phases) {
          val written = spark.read.option("sep", "\t")
            .schema("test_id LONG, prediction LONG").csv(outDir(i))
          val r = graft.operators.Knn.accuracy(written, testDf, "id", "label").collect().head
          r.getLong(0).toDouble / r.getLong(1)
        }
    }
    OpOut(phases.toMap, 0L)
  }

  private def readPredictions(dir: String): Map[Long, Long] = {
    val parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-"))
    parts.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(id, p) = l.split("\t"); id.toLong -> p.toLong
      }.toArray finally src.close()
    }.toMap
  }

  def verify(nOps: Int, injectFault: Boolean): (Set[Int], Map[String, Any]) = {
    val (trX, trY) = Oracles.readArff(train)
    val (teX, teY) = Oracles.readArff(test)
    val expected = Oracles.classify(trX, trY, teX, k)
    val expectedAcc = expected.indices.count(i => expected(i) == teY(i)).toDouble / teY.length
    val bad = (0 until nOps).filter { i =>
      var got = readPredictions(outDir(i))
      if (injectFault && i == 0) got = got.updated(0L, got(0L) + 1)
      val predsOk = got.size == expected.length &&
        expected.indices.forall(t => got.get(t.toLong).contains(expected(t)))
      !predsOk || !accuracies.get(i).contains(expectedAcc)
    }.toSet
    (bad, Map("accuracy" -> expectedAcc, "train_rows" -> trX.length,
      "test_rows" -> teX.length, "pairs" -> trX.length.toLong * teX.length))
  }
}

/** Short registry queries: per-query fixed costs dominate. The seed
  * permutes the order on every pass. Correctness is the DuckDB oracle's
  * job (in the runner); here each query's result is written once, after
  * the window. */
final class QueryFloor(spark: SparkSession, inputs: String, work: String, seed: Long)
    extends Workload {
  private val dir = s"$inputs/tables"
  private val names = QueryFloor.names
  private val orders = mutable.Map[Int, Seq[String]]()
  private def order(pass: Int): Seq[String] =
    orders.getOrElseUpdate(pass, new scala.util.Random(seed * 7919L + pass).shuffle(names))
  def coldOps: Int = names.size
  override def minWarmOps: Int = names.size
  def label(i: Int): String = order(i / names.size)(i % names.size)

  def op(i: Int, tr: Option[Tracer]): OpOut = {
    val phases = mutable.Map[String, Double]()
    val q = graft.SparkEntry.queries(label(i))
    val df = timed("query.build", tr, phases)(q(spark, dir))
    timed("query.exec", tr, phases)(df.write.format("noop").mode("overwrite").save())
    // a DataFrame is analysed eagerly while it is built, which the
    // executed write's own tracker does not see
    if (tr.isDefined) phases("plan.build_analysis") =
      df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
    OpOut(phases.toMap, 0L)
  }

  /** A direct call into the table loader, timed apart from the query. */
  def tablesLoad(tr: Tracer): Double = {
    val s = System.nanoTime()
    tr.layer("tables.load")(graft.Tables.load(spark, dir, "lineitem"))
    (System.nanoTime() - s) / 1e9
  }

  def verify(nOps: Int, injectFault: Boolean): (Set[Int], Map[String, Any]) = {
    val oracles = graft.SparkEntry.oracleSql
    // outside the window, so write the results four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map(n => pool.submit(new Runnable {
      def run(): Unit = graft.SparkEntry.queries(n)(spark, dir)
        .write.mode("overwrite").parquet(s"$work/results/$n")
    })).foreach(_.get())
    finally pool.shutdown()
    val json = names.map(n => n -> oracles(n))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/results/oracle_sql.json"),
      Json.obj(json).getBytes("UTF-8"))
    (Set.empty, Map("results" -> s"$work/results", "tables" -> dir))
  }
}

object QueryFloor {
  val names: Seq[String] = Seq(
    "q01_scan_project", "q02_filter_pushdown", "q03_agg_sum", "q04_join_broadcast",
    "q05_join_agg", "q06_window_topn", "q23_sort_limit", "q24_set_ops", "q25_semi_anti",
    "q26_rollup", "q27_events_windowed", "q28_sql_join_agg", "q32_distinct_agg",
    "q35_pivot", "q40_cube", "q41_collect", "q45_percentiles", "q46_running_totals",
    "q51_grouping_sets", "q74_ntile", "q75_monthly", "q86_gap_fill", "q87_funnel",
    "q88_unpivot", "q94_revenue_share", "q95_daily_delta")
}

/** IVF and IVF-PQ: build each index into a fresh directory, then search
  * it. Both probe paths run in every operation. */
final class AnnIndex(spark: SparkSession, inputs: String, work: String)
    extends Workload {
  private val centroids = 32
  private val probes = 4
  private val k = 10
  private val candidates = 50
  private def items: DataFrame = spark.read.parquet(s"$inputs/ann/items.parquet")
  private def queries: DataFrame = spark.read.parquet(s"$inputs/ann/queries.parquet")
  private val ivfResults = mutable.Map[Int, Array[Row]]()
  private val pqResults = mutable.Map[Int, Array[Row]]()
  val dim: Int = items.select(col("vec")).head().getSeq[Float](0).size
  def coldOps: Int = 1
  def label(i: Int): String = "build_search"

  def op(i: Int, tr: Option[Tracer]): OpOut = {
    val phases = mutable.Map[String, Double]()
    val base = s"$work/ann/op-$i"
    timed("ivf.build", tr, phases) {
      SimilaritySearch.buildIvfIndex(items, "item_id", "vec", centroids, 1, s"$base/ivf")
    }
    val ivf = timed("ivf.search", tr, phases) {
      SimilaritySearch.ivfTopKFromIndex(queries, s"$base/ivf", k, "query_id", "vec", probes)
        .collect()
    }
    timed("pq.build", tr, phases) {
      Pq.buildIvfPqIndex(items, "item_id", "vec", dim, m = 8, k = 64, iters = 2,
        centroids = centroids, path = s"$base/pq")
    }
    val pq = timed("pq.search", tr, phases) {
      Pq.ivfPqCandidates(queries, s"$base/pq", dim, candidates, probes, "query_id", "vec")
        .collect()
    }
    ivfResults(i) = ivf
    pqResults(i) = pq
    OpOut(phases.toMap, ivf.length.toLong + pq.length)
  }

  // the IVF path ranks as int, the IVF-PQ path as long
  private def rank(r: Row): Long = r.getAs[Number]("rank").longValue

  private def neighbours(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(rank).map(_.getAs[Long]("neighbor_id")).toSeq
    }

  def verify(nOps: Int, injectFault: Boolean): (Set[Int], Map[String, Any]) = {
    def vecs(df: DataFrame, id: String): Array[Array[Double]] =
      df.select(col(id), col("vec")).collect().sortBy(_.getLong(0))
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val itemVecs = vecs(items, "item_id")
    val queryVecs = vecs(queries, "query_id")
    val exact = queryVecs.map(q => Oracles.nearest(q, itemVecs, k).map(_.toLong).toSeq)
    // ivfTopKFromIndex is documented bit-equal to the inline ivfTopK
    val inline = SimilaritySearch.ivfTopK(queries, items, k, "query_id", "item_id", "vec",
      "vec", centroids, probes).collect()
    def key(rows: Array[Row], dist: String): Set[(Long, Long, Long, Double)] = rows.map(r =>
      (r.getAs[Long]("query_id"), rank(r), r.getAs[Long]("neighbor_id"),
        r.getAs[Double](dist))).toSet
    val inlineKey = key(inline, "dist")
    val firstPq = pqResults.get(0).map(key(_, "adc_dist"))
    val bad = (0 until nOps).filter(i => !ivfResults.contains(i) || {
      val ivf = if (injectFault && i == 0) ivfResults(i).drop(1) else ivfResults(i)
      val ivfOk = ivf.length == inline.length && key(ivf, "dist") == inlineKey
      val pq = neighbours(pqResults(i))
      val pqOk = pq.size == queryVecs.length &&
        pq.values.forall(ns => ns.nonEmpty && ns.size <= candidates && ns.distinct.size == ns.size &&
          ns.forall(n => n >= 0 && n < itemVecs.length)) &&
        firstPq.contains(key(pqResults(i), "adc_dist"))
      !(ivfOk && pqOk)
    }).toSet
    def recall(found: Map[Long, Seq[Long]]): Double =
      exact.indices.map(q => found.getOrElse(q.toLong, Nil).toSet
        .intersect(exact(q).toSet).size).sum.toDouble / (exact.length * k)
    (bad, Map("ivf_recall_at_10" -> recall(neighbours(ivfResults(0))),
      "pq_recall_at_10" -> recall(neighbours(pqResults(0))),
      "items" -> itemVecs.length, "queries" -> queryVecs.length, "dim" -> dim))
  }
}
