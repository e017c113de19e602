package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** One scored candidate flowing into a per-group top-k aggregation.
  *
  * Ordering is total and deterministic: by (dist asc, id asc) — unlike the
  * reference, whose k-boundary ties depend on input order
  * (`/root/reference/src/main/java/Hadoop.java:112-141`).
  */
case class Neighbor(dist: Double, id: Long, label: Long)

/** Bounded top-k accumulator: a binary max-heap on (dist, id) of capacity
  * k, so the current worst candidate is at the root. O(log k) insert,
  * O(k log k) merge, O(k) memory — *independent of group size*.
  *
  * This is the one genuinely custom engine piece (SURVEY §7.3): it restores
  * the reference's map-side partial top-k
  * (`Hadoop.java:73-84,102-142`) inside Spark's partial+final aggregation,
  * so the shuffle carries only `numPartitions × numGroups × k` rows instead
  * of the full |queries|×|items| distance matrix a Window formulation would
  * exchange. Unlike the reference's positionally-lossy reducer merge
  * (`Hadoop.java:208-235`, SURVEY §2 #9), [[merge]] is a true k-way bound:
  * correct under any partitioning.
  */
final class TopKBuffer(val k: Int) extends Serializable {
  var size: Int = 0
  val dists: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)
  val labels: Array[Long] = new Array[Long](k)

  // (dist, id) lexicographic: is element i worse (greater) than (d, id)?
  @inline private def worseThan(i: Int, d: Double, id: Long): Boolean =
    dists(i) > d || (dists(i) == d && ids(i) > id)

  @inline private def worseThanIdx(i: Int, j: Int): Boolean =
    worseThan(i, dists(j), ids(j))

  private def swap(i: Int, j: Int): Unit = {
    val td = dists(i); dists(i) = dists(j); dists(j) = td
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tl = labels(i); labels(i) = labels(j); labels(j) = tl
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && worseThanIdx(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worseThanIdx(l, m)) m = l
      if (r < size && worseThanIdx(r, m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(d: Double, id: Long, label: Long): Unit = {
    if (size < k) {
      dists(size) = d; ids(size) = id; labels(size) = label
      size += 1; siftUp(size - 1)
    } else if (k > 0 && worseThan(0, d, id)) {
      dists(0) = d; ids(0) = id; labels(0) = label
      siftDown()
    }
  }

  def mergeFrom(other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { insert(other.dists(i), other.ids(i), other.labels(i)); i += 1 }
    this
  }

  /** Heap slots in ascending (dist, id) order; dist compares as
    * `java.lang.Double.compare` (a total order), like `sortBy` on a
    * `(Double, Long)` key. */
  def sortedSlots: Array[Int] =
    Array.range(0, size).sortWith { (a, b) =>
      val c = java.lang.Double.compare(dists(a), dists(b))
      c < 0 || (c == 0 && ids(a) < ids(b))
    }

  /** Ascending by (dist, id). */
  def sorted: Seq[Neighbor] =
    sortedSlots.toSeq.map(i => Neighbor(dists(i), ids(i), labels(i)))

  /** Packed primitives: `size`, then `size` (dist, id, label) triples in
    * heap order, so [[TopKBuffer.fromBytes]] restores the heap as is. */
  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 24 * size)
    bb.putInt(size)
    var i = 0
    while (i < size) { bb.putDouble(dists(i)).putLong(ids(i)).putLong(labels(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(k: Int, bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(k)
    b.size = bb.getInt()
    var i = 0
    while (i < b.size) {
      b.dists(i) = bb.getDouble(); b.ids(i) = bb.getLong(); b.labels(i) = bb.getLong(); i += 1
    }
    b
  }
}

/** The bounded per-group top-k as a native Catalyst aggregate over a
  * [[TopKBuffer]]: `(dist double, id bigint, label bigint)` in, the k
  * smallest by (dist, id) out as `array<struct<dist,id,label>>` ascending.
  *
  * Spark plans it as ObjectHashAggregate: the buffer lives as a JVM
  * object in the hash-agg map, each input row is three primitive reads
  * and one heap insert, and the buffer crosses the shuffle as packed
  * primitives ([[TopKBuffer.toBytes]]). Rows whose dist, id or label is
  * null are skipped, as SQL aggregates skip nulls.
  *
  * With `distinctMin` the buffer holds k·`widen` entries and [[eval]]
  * keeps each id's first (smallest) entry, then trims to k — see
  * [[TopK.topKDistinctMin]].
  */
case class TopKAggregator(
    dist: Expression,
    id: Expression,
    label: Expression,
    k: Int,
    widen: Int = 1,
    distinctMin: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer]
  with TernaryLike[Expression]
  with ImplicitCastInputTypes {
  require(k >= 0 && widen >= 1)

  override def first: Expression = dist
  override def second: Expression = id
  override def third: Expression = label
  override def prettyName: String = "topkaggregator"
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType, LongType)
  override def dataType: DataType = TopKAggregator.OutputType
  override def nullable: Boolean = true

  @transient private lazy val input = UnsafeProjection.create(children)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k * widen)

  override def update(b: TopKBuffer, row: InternalRow): TopKBuffer = {
    val r = input(row)
    if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      b.insert(r.getDouble(0), r.getLong(1), r.getLong(2))
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = b.mergeFrom(other)

  override def eval(b: TopKBuffer): Any = {
    val slots = b.sortedSlots
    val kept =
      if (!distinctMin) slots
      else {
        // ascending order: an id's first slot is its min-dist copy
        val seen = scala.collection.mutable.HashSet.empty[Long]
        slots.filter(i => seen.add(b.ids(i))).take(k)
      }
    new GenericArrayData(kept.map(i =>
      InternalRow(b.dists(i), b.ids(i), b.labels(i)): Any))
  }

  override def serialize(b: TopKBuffer): Array[Byte] = b.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.fromBytes(k * widen, bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKAggregator =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggregator =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      d: Expression, i: Expression, l: Expression): TopKAggregator =
    copy(dist = d, id = i, label = l)
}

object TopKAggregator {
  /** `array<struct<dist,id,label>>` exactly as `ExpressionEncoder[Seq[Neighbor]]`
    * types it (fields non-null, elements nullable). */
  val OutputType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("label", LongType, nullable = false))), containsNull = true)
}

object TopK {
  private def agg(k: Int, widen: Int, distinctMin: Boolean)(
      dist: Column, id: Column, label: Column): Column =
    Bridge.column(TopKAggregator(Bridge.expression(dist), Bridge.expression(id),
      Bridge.expression(label), k, widen, distinctMin).toAggregateExpression())

  /** Per-group bounded top-k: `topK(k)(col(dist), col(id), col(label))` →
    * `array<struct<dist,id,label>>` sorted ascending by (dist, id).
    * Inputs cast implicitly to double / bigint / bigint; rows with a null
    * input are skipped.
    */
  def topK(k: Int): (Column, Column, Column) => Column =
    agg(k, 1, distinctMin = false)

  /** Bounded top-k with per-id MIN-MERGE, in ONE aggregation: a
    * [[TopKBuffer]] widened to k·`widen` entries, deduped by id
    * (keeping each id's smallest dist) and re-trimmed to k at finish.
    *
    * This is the IVFADC multi-assignment merge as a single operator:
    * a pair replicated into up to `widen` cells scores once per
    * replica, and every copy sorts at-or-after its min copy, so the
    * k-th smallest DISTINCT merged pair provably sits inside the
    * widened k·widen prefix — the same containment argument as the
    * explicit heap→explode→min→re-heap pipeline (spec-pinned equal),
    * minus its two extra exchanges over the per-query lists. The
    * finish-time dedup touches ≤ k·widen in-memory entries. One
    * aggregation also means ONE stateful operator, which is what lets
    * the streaming IVFADC twin run the merge under a single windowed
    * aggregation.
    */
  def topKDistinctMin(k: Int, widen: Int): (Column, Column, Column) => Column =
    agg(k, widen, distinctMin = true)

  /** DataFrame-facing UDAF for per-group top-k TERMS:
    * `topTerms(k)(score, term, tf, df)` → `array<struct<score,term,tf,df>>`
    * sorted by (score desc, term asc). Same bounded-heap discipline as
    * [[topK]] — O(k) state per group, map-side partials — for string-keyed
    * rankings (TF-IDF head terms and the like) where the winner's identity
    * must come back with it (no hash-and-join-back round trip).
    */
  def topTerms(k: Int): UserDefinedFunction =
    udaf(new TermTopKAggregator(k), Encoders.product[ScoredTerm])
}

/** One scored term flowing into a per-group top-k-terms aggregation.
  *
  * Ordering is total and deterministic: (score DESC, term ASC by UTF-8
  * bytes). The byte-wise tie-break matches both Spark's `UTF8String`
  * comparison and DuckDB's binary collation, so an oracle can replicate
  * the pick with a plain `ORDER BY score DESC, term ASC`.
  */
case class ScoredTerm(score: Long, term: String, tf: Long, df: Long)

/** Bounded top-k-terms accumulator: binary heap of capacity k with the
  * current WORST candidate (lowest score, tie: byte-greatest term) at the
  * root. O(log k) insert, O(k log k) merge, O(k) memory independent of
  * group size — the string twin of [[TopKBuffer]].
  */
final class TermTopKBuffer(val k: Int) extends Serializable {
  var size: Int = 0
  val scores: Array[Long] = new Array[Long](k)
  val terms: Array[String] = new Array[String](k)
  val tfs: Array[Long] = new Array[Long](k)
  val dfs: Array[Long] = new Array[Long](k)

  // UTF-8 byte comparison = Spark UTF8String / DuckDB binary collation
  @inline private def cmpTerm(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // is element i worse (ranked lower) than (s, t)?
  @inline private def worseThan(i: Int, s: Long, t: String): Boolean =
    scores(i) < s || (scores(i) == s && cmpTerm(terms(i), t) > 0)

  @inline private def worseThanIdx(i: Int, j: Int): Boolean =
    worseThan(i, scores(j), terms(j))

  private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val tt = terms(i); terms(i) = terms(j); terms(j) = tt
    val tf = tfs(i); tfs(i) = tfs(j); tfs(j) = tf
    val td = dfs(i); dfs(i) = dfs(j); dfs(j) = td
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && worseThanIdx(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worseThanIdx(l, m)) m = l
      if (r < size && worseThanIdx(r, m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(s: Long, t: String, tf: Long, df: Long): Unit = {
    if (size < k) {
      scores(size) = s; terms(size) = t; tfs(size) = tf; dfs(size) = df
      size += 1; siftUp(size - 1)
    } else if (k > 0 && worseThan(0, s, t)) {
      scores(0) = s; terms(0) = t; tfs(0) = tf; dfs(0) = df
      siftDown()
    }
  }

  def mergeFrom(other: TermTopKBuffer): TermTopKBuffer = {
    var i = 0
    while (i < other.size) { insert(other.scores(i), other.terms(i), other.tfs(i), other.dfs(i)); i += 1 }
    this
  }

  /** Descending by score, ascending by term bytes. */
  def sorted: Seq[ScoredTerm] =
    (0 until size).map(i => ScoredTerm(scores(i), terms(i), tfs(i), dfs(i)))
      .sortWith { (a, b) =>
        a.score > b.score || (a.score == b.score && cmpTerm(a.term, b.term) < 0)
      }
}

/** Typed bounded top-k-terms Aggregator (Spark plans it as a
  * TypedImperativeAggregate: the buffer lives as a JVM object in the
  * hash-agg map and crosses the shuffle Kryo-serialized).
  */
class TermTopKAggregator(k: Int)
    extends Aggregator[ScoredTerm, TermTopKBuffer, Seq[ScoredTerm]] {
  override def zero: TermTopKBuffer = new TermTopKBuffer(k)
  override def reduce(b: TermTopKBuffer, t: ScoredTerm): TermTopKBuffer = {
    b.insert(t.score, t.term, t.tf, t.df); b
  }
  override def merge(b1: TermTopKBuffer, b2: TermTopKBuffer): TermTopKBuffer =
    b1.mergeFrom(b2)
  override def finish(b: TermTopKBuffer): Seq[ScoredTerm] = b.sorted
  override def bufferEncoder: Encoder[TermTopKBuffer] = Encoders.kryo[TermTopKBuffer]
  override def outputEncoder: Encoder[Seq[ScoredTerm]] = ExpressionEncoder[Seq[ScoredTerm]]()
}
