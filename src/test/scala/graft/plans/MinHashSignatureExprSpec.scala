package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftExtensions, HofReference, SparkSpecBase}
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.sources.Tables

class MinHashSignatureExprSpec extends SparkSpecBase {

  test("native expression is bit-identical to the HOF formulation") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
    val both = docs.select(
      col("doc_id"),
      HofReference.minhashSignature(col("sh"), 64).as("hof"),
      TextFunctions.minhash(col("sh"), 64).as("native"))
    val mismatches = both.filter(col("hof") =!= col("native")).count()
    assert(mismatches === 0)
  }

  test("native expression participates in codegen (no fallback)") {
    val plan = Tables.documents(spark, sfDir)
      .select(TextFunctions.minhash(split(col("text"), " "), 16))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [graft_minhash"), plan)
  }

  test("minhashPairs native and HOF paths agree end-to-end") {
    val docs = Tables.documents(spark, sfDir)
    val nat = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hof = HofReference.minhashPairs(docs, "doc_id", "text",
      maxBucket = Some(Dedup.DefaultMaxBucket))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nat === hof)
    assert(nat.nonEmpty)
  }

  test("fast (xxhash64) mode: native and HOF agree bit-for-bit; md5 default untouched") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val both = docs.select(
      HofReference.minhashSignature(col("sh"), 64, fast = true).as("hof_xx"),
      TextFunctions.minhash(col("sh"), 64, fast = true).as("native_xx"),
      HofReference.minhashSignature(col("sh"), 64).as("hof_md5"),
      TextFunctions.minhash(col("sh"), 64).as("native_md5"))
    assert(both.filter(col("hof_xx") =!= col("native_xx")).count() === 0)
    assert(both.filter(col("hof_md5") =!= col("native_md5")).count() === 0)
    // and fast mode is a genuinely different hash family, not a no-op
    assert(both.filter(col("hof_xx") === col("hof_md5")).count() === 0)
  }

  test("fast minhashPairs recovers the exact-jaccard ground truth like the md5 path") {
    val docs = Tables.documents(spark, sfDir)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(docs, "doc_id", "text", fast = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"fast-hash recall $recall over ${truth.size} true pairs")
  }

  test("SQL registration via extensions class") {
    // simulate spark.sql.extensions wiring
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // runtime registry path already covered; here just assert the SQL
    // surface works end-to-end
    GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT graft_minhash(array('a b c','b c d'), 8) AS sig").collect().head
    assert(row.getSeq[Long](0).length === 8)
  }
}
