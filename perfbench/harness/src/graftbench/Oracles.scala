package graftbench

/** Independent oracles: plain Scala over the generated inputs, sharing
  * no code with `graft.operators`. Inputs are generated on a 1/16 grid,
  * so every squared distance is exact in a double and no summation
  * order can change a neighbour ranking. */
object Oracles {

  /** An all-numeric ARFF file: features and integer label (last
    * column) per data row, in file order; a row's id is its ordinal. */
  def readArff(path: String): (Array[Array[Double]], Array[Long]) = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val rows = src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("@") && !l.startsWith("%"))
        .map { l =>
          val t = l.split(",").map(_.trim.toDouble)
          (t.init, t.last.toLong)
        }.toArray
      (rows.map(_._1), rows.map(_._2))
    } finally src.close()
  }

  def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Ids of the k nearest items, ordered by (distance asc, id asc). */
  def nearest(q: Array[Double], items: Array[Array[Double]], k: Int): Array[Int] = {
    val d = new Array[Double](k)
    val ids = new Array[Int](k)
    var n = 0
    var i = 0
    while (i < items.length) {
      val di = sqDist(q, items(i))
      // items arrive in ascending id order, so an equal distance never
      // displaces an earlier id
      if (n < k || di < d(n - 1)) {
        var j = math.min(n, k - 1)
        while (j > 0 && d(j - 1) > di) { d(j) = d(j - 1); ids(j) = ids(j - 1); j -= 1 }
        d(j) = di; ids(j) = i
        if (n < k) n += 1
      }
      i += 1
    }
    ids.take(n)
  }

  /** The graft CLI's default vote: a label needs at least 2 of the k
    * votes to win, otherwise the prediction is -1; ties go to the
    * smallest label. */
  def legacyVote(labels: Seq[Long]): Long = {
    val counts = labels.groupBy(identity).map { case (l, xs) => (l, xs.size) }
      .filter(_._2 >= 2)
    if (counts.isEmpty) -1L
    else counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
  }

  /** Brute-force KNN classification of every test row. */
  def classify(train: Array[Array[Double]], trainLabels: Array[Long],
      test: Array[Array[Double]], k: Int): Array[Long] =
    test.map(q => legacyVote(nearest(q, train, k).map(trainLabels(_)).toSeq))
}
