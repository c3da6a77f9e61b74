package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{HofReference, SparkSpecBase}
import graft.sources.Tables

/** Differential gate for the NATIVE visitor×pool scorer
  * (plans.ScoreTopK): per-visitor top-k over the bucket pool must
  * reproduce the HOF walk's neighbors BIT-FOR-BIT — same sequential-dot
  * cosines, same (cos DESC, id ASC) rank, same per-table/per-cell
  * candidate sets under dormant AND engaged pool caps. The HOF walk is
  * the test-scope reference model ([[graft.HofReference.scoreTopK]] /
  * [[graft.HofReference.scoreAll]]), run over the bucket rows the
  * operators group on, built here from the same helpers; the operators'
  * own output is what it is compared against. */
class ScoreTopKNativeSpec extends SparkSpecBase {

  private def emb: DataFrame = Tables.embeddings(spark, sfDir)

  private def canon(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("vec_id").cast("long"), col("neighbor_id").cast("long"),
      col("cos").cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** lshNeighbors' (ms, pool) bucket rows. */
  private def lshPooled(bits: Int, tables: Int, cap: Option[Int]): DataFrame =
    SimilaritySearch.bucketedMembers(emb, "vec_id", "embedding",
      SimilaritySearch.lshBucketCols(64, bits, tables))
      .groupBy("bucket")
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(col("ms"),
        cap.fold(col("ms"))(c => SimilaritySearch.candidatePool(col("ms"), c)).as("pool"))

  /** Every HOF-scored candidate, reduced by the operators' top-k. */
  private def hofMerged(rows: DataFrame, k: Int): DataFrame =
    SimilaritySearch.topKPerVector(
      rows.select(explode_outer(HofReference.scoreAll(col("vs"), col("pool"))).as("p"))
        .filter(col("p").isNotNull)
        .select(col("p.vec_id"), col("p.cos"), col("p.neighbor_id")), k)

  test("native lshNeighbors == HOF walk (single table, several configs)") {
    val cap = Some(SimilaritySearch.DefaultMaxBucketOccupancy)
    for ((bits, k) <- Seq((1, 3), (3, 5))) {
      val n = canon(SimilaritySearch.lshNeighbors(
        emb, "vec_id", "embedding", dim = 64, nBits = bits, k = k))
      val h = canon(lshPooled(bits, 1, cap)
        .select(explode_outer(HofReference.scoreTopK(col("ms"), col("pool"), k)).as("p"))
        .filter(col("p").isNotNull)
        .select("p.vec_id", "p.neighbor_id", "p.cos"))
      assert(n === h, s"nBits=$bits k=$k single-table mismatch")
      assert(n.nonEmpty, s"nBits=$bits single-table found nothing — vacuous")
    }
  }

  test("native lshNeighbors == HOF walk (multi table, engaged pool cap)") {
    for ((tables, cap) <- Seq((2, None), (8, None), (2, Some(4)), (8, Some(8)))) {
      val n = canon(SimilaritySearch.lshNeighbors(
        emb, "vec_id", "embedding", dim = 64, nBits = 2, k = 3,
        nTables = tables, maxBucket = cap))
      val h = canon(hofMerged(SimilaritySearch.walkRows(lshPooled(2, tables, cap), cap), 3))
      assert(n === h, s"tables=$tables cap=$cap multi-table mismatch")
      assert(n.nonEmpty, s"tables=$tables cap=$cap found nothing — vacuous")
    }
  }

  test("native ivfNeighbors == HOF walk (dormant + engaged pool cap)") {
    for (cap <- Seq(None, Some(16))) {
      val n = canon(SimilaritySearch.ivfNeighbors(
        emb, "vec_id", "embedding", dim = 64, nCentroids = 8, nProbe = 2,
        k = 3, maxBucket = cap))
      val members = filter(col("ms"), b => b.getField("is_member"))
      val pooled = SimilaritySearch.ivfMembers(emb, "vec_id", "embedding",
        dim = 64, nCentroids = 8, nProbe = 2)
        .groupBy("bucket")
        .agg(collect_list(
          struct(col("id"), col("v"), col("nrm"), col("is_member"))).as("ms"))
        .select(col("ms"),
          cap.fold(members)(c => SimilaritySearch.candidatePool(members, c)).as("pool"))
      val h = canon(hofMerged(SimilaritySearch.walkRows(pooled, cap), 3))
      assert(n === h, s"cap=$cap ivf mismatch")
      assert(n.nonEmpty, s"cap=$cap ivf found nothing — vacuous")
    }
  }
}
