package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The contract of the native [[TopKAggregator]]: the output type of the
  * `Seq[Neighbor]` encoder, results independent of partitioning, a
  * lossless buffer round trip, SQL null skipping, and the distinct-min
  * variant equal to its explicit multi-aggregation twin.
  */
class TopKAggregatorSpec extends SparkSpec {
  import spark.implicits._

  /** Random (g, dist, id, label) rows: few distinct dists and ids, so
    * (dist, id) ties and repeated ids are common. The label is a function
    * of the id, so rows equal on (dist, id) are equal outright and every
    * result is unique. */
  private def randomRows(seed: Int, n: Int): Seq[(Int, Double, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val id = rnd.nextInt(12).toLong
      (rnd.nextInt(5), rnd.nextInt(8).toDouble, id, id % 4)
    }
  }

  private def topKOf(df: DataFrame, f: (Column, Column, Column) => Column)
      : Map[Int, Seq[(Double, Long, Long)]] =
    df.groupBy($"g").agg(f($"dist", $"id", $"label").as("nbrs"))
      .as[(Int, Seq[(Double, Long, Long)])].collect().toMap

  test("output type and nullability equal ExpressionEncoder[Seq[Neighbor]]'s") {
    val enc = ExpressionEncoder[Seq[Neighbor]]().schema.head
    val df = randomRows(1, 20).toDF("g", "dist", "id", "label")
    for (f <- Seq(TopK.topK(3), TopK.topKDistinctMin(3, 2))) {
      val field = df.groupBy($"g").agg(f($"dist", $"id", $"label").as("nbrs"))
        .schema("nbrs")
      assert(field.dataType === enc.dataType)
      assert(field.nullable === enc.nullable)
    }
  }

  test("identical results over 1, 3 and 7 input partitions, equal to sort.take(k)") {
    val rows = randomRows(7, 400)
    val df = rows.toDF("g", "dist", "id", "label")
    for (k <- Seq(0, 1, 4, 9)) {
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3, r._4)).sortBy(r => (r._1, r._2)).take(k)
      }
      val dedupWant = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3, r._4)).sortBy(r => (r._1, r._2))
          .distinctBy(_._2).take(k)
      }
      for (parts <- Seq(1, 3, 7)) {
        val part = df.repartition(parts)
        assert(topKOf(part, TopK.topK(k)) === want, s"k=$k parts=$parts")
        // widen 12 ≥ ids per group: the widened buffer holds every id
        assert(topKOf(part, TopK.topKDistinctMin(k, 12)) === dedupWant,
          s"distinct k=$k parts=$parts")
      }
    }
  }

  test("buffer serialize -> deserialize round trip: empty, partial, full, k = 0") {
    for ((k, n) <- Seq((0, 0), (0, 5), (4, 0), (4, 2), (4, 4), (4, 11))) {
      val agg = TopKAggregator(Literal(0.0), Literal(0L), Literal(0L), k)
      val items = randomRows(k * 31 + n, n)
      val b = agg.createAggregationBuffer()
      items.foreach(r => b.insert(r._2, r._3, r._4))
      val back = agg.deserialize(agg.serialize(b))
      assert(back.k === b.k && back.size === b.size, s"k=$k n=$n")
      assert(back.dists.take(b.size).toSeq === b.dists.take(b.size).toSeq)
      assert(back.ids.take(b.size).toSeq === b.ids.take(b.size).toSeq)
      assert(back.labels.take(b.size).toSeq === b.labels.take(b.size).toSeq)
      // the restored heap keeps working: further inserts agree
      val more = randomRows(n + 1, 6)
      more.foreach { r => b.insert(r._2, r._3, r._4); back.insert(r._2, r._3, r._4) }
      assert(back.sorted === b.sorted, s"k=$k n=$n")
    }
  }

  test("rows with a null dist, id or label are skipped, not read as 0") {
    val df = Seq[(Int, Option[Double], Option[Long], Option[Long])](
      (1, Some(1.0), Some(5L), Some(0L)),
      (1, None, Some(6L), Some(0L)),
      (1, Some(0.5), Some(7L), Some(0L)),
      (1, Some(0.1), None, Some(0L)),
      (1, Some(0.2), Some(8L), None),
      (2, None, Some(1L), Some(1L))).toDF("g", "dist", "id", "label")
    for (parts <- Seq(1, 3)) {
      val part = df.repartition(parts)
      assert(topKOf(part, TopK.topK(3)) ===
        Map(1 -> Seq((0.5, 7L, 0L), (1.0, 5L, 0L)), 2 -> Seq()), s"parts=$parts")
      assert(topKOf(part, TopK.topKDistinctMin(3, 2)) ===
        Map(1 -> Seq((0.5, 7L, 0L), (1.0, 5L, 0L)), 2 -> Seq()), s"parts=$parts")
    }
  }

  test("topKDistinctMin(widen > 1) == explicit heap/explode/min/re-heap") {
    val df = randomRows(3, 300).toDF("g", "dist", "id", "label").repartition(3)
    for (k <- Seq(1, 3); widen <- Seq(2, 3)) {
      val one = topKOf(df, TopK.topKDistinctMin(k, widen))
      val three = df.groupBy($"g")
        .agg(TopK.topK(k * widen)($"dist", $"id", $"label").as("top"))
        .select($"g", explode($"top").as("n"))
        .groupBy($"g", $"n.id".as("id")).agg(min($"n.dist").as("dist"))
        .groupBy($"g").agg(TopK.topK(k)($"dist", $"id", $"id" % 4).as("top"))
        .as[(Int, Seq[(Double, Long, Long)])].collect().toMap
      assert(one === three, s"k=$k widen=$widen")
    }
  }

  test("inputs cast implicitly; plans as a partial + final ObjectHashAggregate") {
    val df = Seq((1, 3, 10, 1), (1, 1, 11, 2), (1, 2, 12, 3)).toDF("g", "dist", "id", "label")
    val res = df.groupBy($"g").agg(TopK.topK(2)($"dist", $"id", $"label").as("nbrs"))
    assert(res.as[(Int, Seq[(Double, Long, Long)])].collect().toSeq ===
      Seq((1, Seq((1.0, 11L, 2L), (2.0, 12L, 3L)))))
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_topkaggregator"), plan)
  }
}
