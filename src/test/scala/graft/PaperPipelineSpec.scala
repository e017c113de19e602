package graft

import java.io.File
import java.nio.file.Files

import graft.operators.Knn
import graft.sources.Arff

/** The paper pipeline (ARFF → broadcast cross join → bounded top-k →
  * vote → single-file predictions → accuracy) end to end through
  * [[Main.run]], on a hermetic fixture under `src/test/resources/arff`.
  *
  * Fixture: 9 train rows in three clusters, one test row per cluster
  * (ids are file order). Squared distances, nearest first, ties by id:
  *
  *   q0 (0,1):  t0 1 [label 1], t2 1 [2], t1 2 [1], then t6 81
  *   q1 (10,1): t3 1 [5],       t5 1 [4], t4 2 [3], then t1 82
  *   q2 (0,11): t6 1 [7],       t8 1 [6], t7 2 [6], then t2 81
  *
  * True labels: q0 1, q1 3, q2 6.
  */
class PaperPipelineSpec extends SparkSpec {

  private def resource(name: String): String =
    new File(getClass.getResource(s"/arff/$name").toURI).getPath
  private val train = resource("train.arff")
  private val test = resource("test.arff")

  /** Runs the pipeline; returns (accuracy, the single part file's text). */
  private def run(k: Int, legacyVote: Boolean): (Double, String) = {
    val out = Files.createTempDirectory("graft_paper").toString + "/p"
    val (_, acc) = Main.run(spark, train, test, k, out, legacyVote)
    val parts = new File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1, parts.map(_.getName).mkString(", "))
    (acc, new String(Files.readAllBytes(parts.head.toPath), "UTF-8"))
  }

  test("header: quoted names, upper-case keywords, comments, stray @relation; ordinal ids") {
    assert(Arff.attributes(spark, train) === Seq("x coord", "y coord", "class"))
    val df = Arff.read(spark, train)
    assert(df.columns.toSeq === Seq("id", "x coord", "y coord", "class"))
    val rows = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(rows === Seq(
      (0L, 0.0, 0.0, 1.0), (1L, 1.0, 0.0, 1.0), (2L, 0.0, 2.0, 2.0),
      (3L, 10.0, 0.0, 5.0), (4L, 11.0, 0.0, 3.0), (5L, 10.0, 2.0, 4.0),
      (6L, 0.0, 10.0, 7.0), (7L, 1.0, 10.0, 6.0), (8L, 0.0, 12.0, 6.0)))
  }

  test("header: a file with no @attribute line is refused") {
    val e = intercept[IllegalArgumentException](
      Arff.read(spark, resource("no-attributes.arff")))
    assert(e.getMessage.contains("no @attribute lines found"), e.getMessage)
  }

  test("data: a malformed row fails the read with its row number") {
    def failure(name: String): String = {
      val e = intercept[Exception](Arff.read(spark, resource(name)).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(c => String.valueOf(c.getMessage)).mkString(" | ")
    }
    assert(failure("short-row.arff").contains("row 1 has 2 fields, expected 3"))
    assert(failure("bad-token.arff").contains("row 1, attribute 'b': non-numeric token 'x5'"))
  }

  test("knnJoin: the hand-computed neighbours and distances") {
    val got = Knn.knnJoin(Arff.readLabeled(spark, test),
      Arff.readLabeled(spark, train), k = 3, queryId = "id", itemId = "id",
      queryVec = "features", itemVec = "features", itemLabel = Some("label"))
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("dist"))).toSeq
    assert(got === Seq(
      (0L, 0L, 1.0), (0L, 2L, 1.0), (0L, 1L, 2.0),
      (1L, 3L, 1.0), (1L, 5L, 1.0), (1L, 4L, 2.0),
      (2L, 6L, 1.0), (2L, 8L, 1.0), (2L, 7L, 2.0)))
  }

  test("k=3, legacy vote: no label with 2 of 3 votes emits -1; file byte for byte") {
    val (acc, text) = run(k = 3, legacyVote = true)
    assert(text === "0\t1\n1\t-1\n2\t6\n")
    assert(acc === 2.0 / 3.0)
  }

  test("k=3, plurality vote: a 1-1-1 tie goes to the smallest label") {
    // q1's votes are 5, 4, 3 (nearest first): the tie picks 3, the farthest
    val (acc, text) = run(k = 3, legacyVote = false)
    assert(text === "0\t1\n1\t3\n2\t6\n")
    assert(acc === 1.0)
  }

  test("k=1: the nearest neighbour, distance ties broken by smaller id") {
    val (acc, text) = run(k = 1, legacyVote = false)
    assert(text === "0\t1\n1\t5\n2\t7\n")
    assert(acc === 1.0 / 3.0)
    // legacy needs 2 votes, which k=1 never gives
    assert(run(k = 1, legacyVote = true)._2 === "0\t-1\n1\t-1\n2\t-1\n")
  }

  test("classify: the blocked query path votes identically") {
    def preds(blocks: Int, legacy: Boolean) =
      Knn.classify(Arff.readLabeled(spark, train), Arff.readLabeled(spark, test),
        k = 3, trainId = "id", testId = "id", trainVec = "features",
        testVec = "features", labelCol = "label", legacyVote = legacy,
        blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (legacy <- Seq(true, false))
      assert(preds(2, legacy) === preds(1, legacy), s"legacy=$legacy")
    assert(preds(1, legacy = true) === Set((0L, 1L), (1L, -1L), (2L, 6L)))
  }
}
