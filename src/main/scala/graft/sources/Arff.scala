package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** ARFF (Weka Attribute-Relation File Format) reader — the reference
  * engine's only input format (`/root/reference/src/main/java/
  * Hadoop.java:66-71,89-100`; datasets at `/root/reference/datasets/`).
  *
  * Schema comes from the `@attribute` header lines (all-NUMERIC in the
  * reference's data model, SURVEY §1.2); the body is CSV. Like the
  * reference's mapper we skip `@`-prefixed lines in the data stream, but
  * unlike it we honor the declared attribute names, skip `%` comments and
  * blank lines, and fail fast with row context on a malformed token
  * (the reference throws a bare NumberFormatException, Hadoop.java:99).
  *
  * Each row gets an ordinal `id` (file order) — the reference keys its
  * whole pipeline on line position (`Hadoop.java:104,270`), and Spark has
  * no stable implicit row order, so identity is minted at ingest via
  * `zipWithIndex` (SURVEY §7.4).
  */
object Arff {

  /** Attribute names in header order (case-insensitive `@attribute`).
    * Read on the driver from the header alone — the lines before
    * `@data` — so the data section is never scanned for it.
    */
  def attributes(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Using.resource(new BufferedReader(
        new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))) { in =>
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(_.trim)
        .takeWhile(!_.toLowerCase.startsWith("@data"))
        .filter(_.toLowerCase.startsWith("@attribute"))
        .map { l =>
          // "@attribute <name> NUMERIC" — name may be quoted
          val rest = l.drop("@attribute".length).trim
          if (rest.startsWith("'")) rest.drop(1).takeWhile(_ != '\'')
          else rest.takeWhile(!_.isWhitespace)
        }
        .toList
    }
  }

  /** Read an all-numeric ARFF into a DataFrame with schema
    * `(id: long, <attr1>: double, …, <attrN>: double)`.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val attrs = attributes(spark, path)
    val n = attrs.size
    require(n > 0, s"no @attribute lines found in $path")

    // one split per core: the file is the streamed side of the KNN cross
    // join, so fewer splits than cores leaves cores idle in that stage
    val rows = spark.sparkContext.textFile(path, spark.sparkContext.defaultParallelism)
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("@") && !l.startsWith("%"))
      .zipWithIndex()
      .map { case (line, idx) =>
        val toks = line.split(",")
        require(toks.length == n,
          s"row $idx has ${toks.length} fields, expected $n: '$line'")
        val vals = new Array[Any](n + 1)
        vals(0) = idx
        var i = 0
        while (i < n) {
          try vals(i + 1) = toks(i).trim.toDouble
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"row $idx, attribute '${attrs(i)}': non-numeric token '${toks(i)}'")
          }
          i += 1
        }
        Row.fromSeq(vals.toIndexedSeq)
      }

    val schema = StructType(
      StructField("id", LongType, nullable = false) +:
        attrs.map(a => StructField(a, DoubleType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Reference convention: last attribute is the class label
    * (Hadoop.java:123,159,325); the rest are features. Returns
    * `(id, features: array<double>, label: long)`.
    */
  def readLabeled(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = read(spark, path)
    val attrs = df.columns.filter(_ != "id")
    val features = attrs.init.map(col)
    df.select(
      col("id"),
      array(features.toIndexedSeq: _*).as("features"),
      col(attrs.last).cast("long").as("label"))
  }
}
