package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** graft's native expressions bind straight into the Column tree: no
  * wrapper may leave a name behind in the session function registry,
  * which every query and thread on the session shares. */
class NativeBindingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("every wrapper evaluates without touching the function registry") {
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val words = split(col("text"), " ")
    val cents = typedLit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    val row = Seq(("a b c d", Seq(0.2, 0.9), Seq(1.0, 1.0)))
      .toDF("text", "u", "v")
      .select(
        HashExpressions.wordShingles(col("text"), 2),
        HashExpressions.minhashShingles(words, 4),
        HashExpressions.hashArray(words),
        HashExpressions.simhash64(words),
        VectorExpressions.hyperplaneSig(col("u"), 4, 2),
        VectorExpressions.cosineSimilarity(col("u"), col("v")),
        VectorExpressions.argMaxCosine(col("u"), cents),
        VectorExpressions.argMinL2(col("u"), cents))
      .head()
    assert(row.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(row.getSeq[Long](1).size == 4)
    assert(row.getSeq[Long](2).size == 4)
    assert(row.getSeq[Long](4).size == 2)
    assert(row.getInt(6) == 1 && row.getInt(7) == 1)
    val after = registry.listFunction().toSet
    assert((after -- before).isEmpty && (before -- after).isEmpty,
      s"registry changed: added ${after -- before}, removed ${before -- after}")
    assert(!after.exists(_.funcName.startsWith("graft_")),
      s"graft_* functions in the registry: ${after.filter(_.funcName.startsWith("graft_"))}")
  }
}
