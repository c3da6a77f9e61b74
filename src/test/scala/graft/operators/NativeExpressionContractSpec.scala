package graft.operators

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpecBase}
import graft.sources.Tables

/** The contract of the one way operators build native expressions
  * (typed builders in `graft.functions`, no SQL-name lookup):
  *
  *   - a non-long id is rejected at analysis by the expression's own
  *     type check, never routed to a slower walk;
  *   - an operator runs on any session and leaves it as it found it —
  *     no `graft_*` function registered, no optimizer rule added — with
  *     the same rows as on a session that has the SQL extension. */
class NativeExpressionContractSpec extends SparkSpecBase {

  private def assertRejectsDecimalIds(expected: String)(run: => DataFrame): Unit = {
    val e = intercept[AnalysisException](run)
    assert(e.getMessage.contains(expected), e.getMessage)
  }

  test("non-long ids are rejected at analysis, not routed to a slower walk") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("decimal(18,0)").as("doc_id"), col("text"))
    assertRejectsDecimalIds("doc:long")(Dedup.minhashPairs(docs, "doc_id", "text"))
    val sigs = spark.range(40).select(
      col("id").cast("decimal(18,0)").as("doc"), xxhash64(col("id")).as("sig"))
    assertRejectsDecimalIds("doc:long")(
      Dedup.packedSignaturePairs(sigs, "doc", "sig", 63, 9))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("decimal(18,0)").as("vec_id"), col("embedding"))
    assertRejectsDecimalIds("id:long")(SimilaritySearch.lshNeighbors(
      emb, "vec_id", "embedding", dim = 64, nBits = 2, k = 3))
    assertRejectsDecimalIds("id:long")(SimilaritySearch.ivfNeighbors(
      emb, "vec_id", "embedding", dim = 64, nCentroids = 8, nProbe = 2, k = 3))
  }

  test("operators leave the caller's session alone and match the extension session") {
    val fresh = spark.newSession()
    val extended = spark.newSession()
    GraftExtensions.register(extended)
    def runAll(s: SparkSession): Seq[Set[String]] = {
      val docs = Tables.documents(s, sfDir)
      val emb = Tables.embeddings(s, sfDir)
      val media = Multimodal.syntheticImagesFromText(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text")
      Seq(
        Dedup.minhashPairs(docs, "doc_id", "text"),
        Dedup.simhashPairs(docs, "doc_id", "text"),
        PerceptualHash.phashPairs(media),
        SimilaritySearch.lshNeighbors(emb, "vec_id", "embedding", dim = 64, nBits = 2),
        SimilaritySearch.lshNeighbors(emb, "vec_id", "embedding", dim = 64, nBits = 2,
          nTables = 8),
        SimilaritySearch.ivfNeighbors(emb, "vec_id", "embedding", dim = 64,
          nCentroids = 8),
        Clustering.kmeansAssign(emb, "vec_id", "embedding", literalMaxTerms = 0)
      ).map(_.collect().map(_.toString).toSet)
    }
    val got = runAll(fresh)
    assert(got === runAll(extended))
    assert(got.forall(_.nonEmpty), "an operator returned nothing — vacuous test")
    val graftFns = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"operators registered $graftFns on the caller's session")
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }
}
