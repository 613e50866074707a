package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark.{sf, spark}
import graft.functions.VecExprs

/** Pins the bit-exactness contract of the r22 tight-loop vector UDFs
  * (functions/VecExprs) against the higher-order-function forms they
  * replaced in SimQueries/VectorIndex: same left-to-right fold from 0.0
  * ⇒ identical doubles ⇒ identical sign bits, buckets, and rank ties.
  * Runs over the REAL embeddings fixture so the comparison covers the
  * exact value distribution the queries see. Edge inputs (a NULL array,
  * a NULL element, a length mismatch) are NULL in, NULL out for both
  * UDFs; for lshSig that departs from the HOF, which gave such rows
  * signature 0. */
class VecExprsSpec extends AnyFunSuite {

  private val DIM = 64

  private def hofCast = transform(col("embedding"), x => x.cast("double"))
  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private def hofSig(nplanes: Int): org.apache.spark.sql.Column = {
    def planeDot(j: Int) = aggregate(
      zip_with(col("emb"), sequence(lit(0), lit(DIM - 1)),
        (x, i) => x * ((i * 31 + lit(j * 17)) % 7 - 3)),
      lit(0.0), (acc, x) => acc + x)
    (0 until nplanes)
      .map(j => when(planeDot(j) >= 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
  }

  private def emb = Tables.embeddings(spark, sf)

  test("dotLoop matches aggregate(zip_with()) bit-for-bit on cross pairs") {
    val e = emb.select(col("vec_id"), hofCast.as("emb"))
    val q = e.filter(col("vec_id") < 4)
      .select(col("emb").as("qe"), col("vec_id").as("qid"))
    val pairs = e.limit(200).crossJoin(broadcast(q))
      .select(hofDot(col("qe"), col("emb")).as("dH"),
        VecExprs.dotLoop(col("qe"), col("emb")).as("dU"))
      .collect()
    assert(pairs.length >= 200)
    for (r <- pairs)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
  }

  test("lshSig matches the per-plane HOF signature for 8 and 16 planes") {
    for (np <- Seq(8, 16)) {
      val bad = emb.select(col("vec_id"), hofCast.as("emb"))
        .withColumn("sH", hofSig(np))
        .withColumn("sU", VecExprs.lshSig(DIM, np)(col("emb")))
        .filter(col("sH") =!= col("sU")).count()
      assert(bad === 0L, s"nplanes=$np")
    }
  }

  test("dotLoop/lshSig: a NULL array or a length mismatch yields NULL") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))), // 1*3 + 2*4 = 11
      (None, Some(Seq(1.0))),                     // null array -> null
      (Some(Seq(1.0, 2.0)), Some(Seq(5.0)))       // length mismatch -> null
    ).toDF("a", "b")
    val got = df.select(VecExprs.dotLoop(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) === 11.0)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
    // a NULL embedding gets a NULL signature (the HOF form gave 0)
    val sig = df.select(VecExprs.lshSig(2, 1)(col("a"))).collect()
    assert(!sig(0).isNullAt(0) && sig(1).isNullAt(0))
  }

  test("lshSig yields NULL for an embedding shorter or longer than dim") {
    import spark.implicits._
    val df = Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0, 4.0))
      .toDF("e")
    val sig = df.select(VecExprs.lshSig(3, 4)(col("e"))).collect()
    assert(!sig(0).isNullAt(0))
    assert(sig(1).isNullAt(0) && sig(2).isNullAt(0))
  }

  test("dotLoop/lshSig: a NULL element yields NULL instead of failing the task") {
    val df = spark.sql(
      "SELECT array(1.0D, CAST(NULL AS DOUBLE)) AS a, array(3.0D, 4.0D) AS b")
    val row = df.select(VecExprs.dotLoop(col("a"), col("b")),
      VecExprs.dotLoop(col("b"), col("a")),
      VecExprs.lshSig(2, 2)(col("a")),
      VecExprs.lshSig(2, 2)(col("b"))).head()
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
    assert(!row.isNullAt(3))
  }
}
