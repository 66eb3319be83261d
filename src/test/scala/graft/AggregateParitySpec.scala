package graft

import java.util.PriorityQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.functions.BloomAggregate.bloom_bits
import graft.functions.KmvSketch.kmv_bottom_k
import graft.functions.TopKAggregate.topk_pairs
import graft.functions.VectorAggregates.{bootstrap_moments, randomization_moments, vector_sum}

/** Every aggregate declaration run through [[GraftAggregate]]: its buffer
  * survives the serialize/deserialize that map-side partials and the
  * streaming state store go through, and the order-independent ones give
  * the same rows however the input is split. */
class AggregateParitySpec extends SparkSpec {

  private val pair = StructType(Seq(StructField("score", DoubleType), StructField("id", LongType)))
  private val vec = ArrayType(LongType, containsNull = false)
  private def longs(n: Int): Seq[Seq[Any]] = (0 until n).map(i => Seq((i * 7919L) % 613))

  /** Each declaration with its column types and the rows that fill it. */
  private val declared: Seq[(AggregateDeclaration[_], Seq[DataType], Seq[Seq[Any]])] = Seq(
    (TopKPairs(3), Seq(pair),
      (0 until 40).map(i => Seq(InternalRow((i % 9) * 1.5, i.toLong)))),
    (KmvBottomK(8), Seq(LongType), longs(200)),
    (SpaceSavingTopK(2, 4), Seq(LongType), longs(200)),
    (BloomBits(256, 3), Seq(LongType), longs(200)),
    (QuantileSketch(Seq(0.1, 0.5, 0.9), 8), Seq(LongType), longs(200)),
    (VectorSum(3), Seq(vec),
      (0 until 40).map(i => Seq(new GenericArrayData(Array(i.toLong, 1L, -i.toLong))))),
    (BootstrapMoments(4), Seq(LongType, LongType), longs(200).map(r => r :+ 3L)),
    (BootstrapMoments(4, bernoulli = true), Seq(LongType, LongType),
      longs(200).map(r => r :+ 3L)))

  /** Buffer content, independent of a hash map's or a heap's layout. */
  private def content(agg: GraftAggregate[Any], buf: Any): Any = buf match {
    case h: PriorityQueue[_] => h.asScala.toList.asInstanceOf[List[(Double, Long)]]
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    case m: mutable.HashMap[_, _] => m.toMap
    case other => agg.serialize(other).toSeq
  }

  test("every aggregate declaration round-trips its buffer, empty and filled, " +
    "and skips rows with a NULL column") {
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).mkString("\n")
    val declarations =
      """case class (\w+)\([^)]*\)\s*extends\s+(AggregateDeclaration|LongVectorDeclaration)\b""".r
        .findAllMatchIn(sources).map(_.group(1)).toSet
    assert(declarations == declared.map(_._1.getClass.getSimpleName).toSet,
      "every AggregateDeclaration needs a case here")
    for ((decl, types, rows) <- declared) {
      val agg = GraftAggregate(decl.asInstanceOf[AggregateDeclaration[Any]],
        types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
      val empty = agg.createAggregationBuffer()
      val filled = agg.createAggregationBuffer()
      rows.foreach(r => agg.update(filled, InternalRow.fromSeq(r)))
      assert(content(agg, filled) != content(agg, empty), s"$decl: rows left no trace")
      for (buf <- Seq(empty, filled)) {
        val back = agg.deserialize(agg.serialize(buf))
        assert(content(agg, back) == content(agg, buf), s"$decl: buffer changed in the codec")
        assert(agg.eval(back) == agg.eval(buf), s"$decl: result changed in the codec")
      }
      val nulls = agg.createAggregationBuffer()
      for (i <- types.indices)
        agg.update(nulls, InternalRow.fromSeq(rows.head.updated(i, null)))
      assert(content(agg, nulls) == content(agg, empty), s"$decl: a NULL column was counted")
    }
  }

  private def split(n: Int): DataFrame =
    spark.range(0, 20000).repartition(n).select(
      (col("id") % 5).as("g"),
      ((col("id") * 7919) % 100003).as("key"),
      (((col("id") * 31) % 1000) / 10.0).as("score"),
      array(col("id") % 5, col("id") % 3, col("id") % 7).as("vec"))

  private def aggregates = Seq(
    bloom_bits(col("key"), 4096, 3),
    topk_pairs(col("score"), col("key"), 5),
    kmv_bottom_k(col("key"), 32),
    vector_sum(col("vec"), 3),
    bootstrap_moments(col("key"), col("g"), 8),
    randomization_moments(col("key"), col("g"), 8))

  test("order-independent aggregates give identical rows at 1 and 4 input partitions") {
    def rows(n: Int): (Seq[Row], Seq[Row]) = {
      val df = split(n)
      (df.groupBy("g").agg(aggregates.head, aggregates.tail: _*).orderBy("g").collect().toSeq,
        df.agg(aggregates.head, aggregates.tail: _*).collect().toSeq)
    }
    val (one, four) = (rows(1), rows(4))
    assert(split(4).rdd.getNumPartitions == 4)
    assert(one._1.length == 5)
    assert(one == four)
  }

  test("randomization_moments == HOF fair-coin reference") {
    val B = 8
    val df = split(4)
    val w = s"""transform(sequence(1, $B),
        b -> CASE WHEN pmod(pmod(pmod(key, 2147483648) + 1103515245*b, 2147483648)
                            * 2654435761, 4294967296) < 2147483648 THEN 1L ELSE 0L END)"""
    val hof = df.withColumn("w", expr(w))
      .withColumn("wg", expr("transform(w, x -> x * g)"))
      .agg(vector_sum(col("w"), B).as("sw"), vector_sum(col("wg"), B).as("swg"))
      .select(expr("concat(sw, swg)"))
    val fast = df.agg(randomization_moments(col("key"), col("g"), B))
    val (ref, got) = (hof.head().getSeq[Long](0), fast.head().getSeq[Long](0))
    assert(got == ref)
    assert(got.take(B).forall(c => c > 0 && c < 20000), s"fair-coin counts: $got")
  }
}
