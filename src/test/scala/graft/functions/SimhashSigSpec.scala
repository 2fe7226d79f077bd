package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.TextAnalysis

/** Codegen simhash expression vs its interpreted reference (the VecDot
  * cross-check pattern). */
class SimhashSigSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("hash60 matches conv(substring(md5(x),1,15),16,10) exactly") {
    import spark.implicits._
    val strs = Seq("", "a", "hello", "tÖkén-ünïcode", "the quick brown fox", "0", "é中文")
    val viaSql = strs.toDF("s")
      .select(col("s"), expr("cast(conv(substring(md5(s),1,15),16,10) as bigint)").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strs.foreach { s =>
      assert(SimhashSig.hash60(UTF8String.fromString(s)) == viaSql(s), s"mismatch for '$s'")
    }
  }

  test("graft_simhash == interpreted HOF formulation on the documents fixture, 16 and 60 bits") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bits <- Seq(16, 60)) {
      val diff = docs.select(
          TextAnalysis.simhashN("text", bits).as("fast"),
          TextAnalysis.simhashNHof("text", bits).as("ref"))
        .where(col("fast") =!= col("ref"))
      assert(diff.count() == 0, s"bits=$bits")
    }
    val rows = docs.select(expr("array_distinct(split(text, ' '))"),
      TextAnalysis.simhashNHof("text", 16), TextAnalysis.simhashNHof("text", 60)).collect()
    for ((bits, col) <- Seq(16 -> 1, 60 -> 2); r <- rows) {
      val tokens = Literal.create(r.getSeq[String](0), ArrayType(StringType))
      assert(SimhashSig(tokens, bits).eval(null) == r.get(col), s"eval, bits=$bits, row=$r")
    }
  }

  test("null tokens are skipped, empty array hashes to 0") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq.empty[String])).toDF("toks")
    assert(df.select(expr("graft_simhash(toks, 16)")).head.getLong(0) == 0L)
    val withNull = Seq(Tuple1(Seq[String]("x", null))).toDF("toks")
    val justX = Seq(Tuple1(Seq("x"))).toDF("toks")
    assert(withNull.select(expr("graft_simhash(toks, 16)")).head.getLong(0) ==
      justX.select(expr("graft_simhash(toks, 16)")).head.getLong(0))
  }
}
