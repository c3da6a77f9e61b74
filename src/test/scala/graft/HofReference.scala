package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions.dot

/** Interpreted higher-order-function (HOF) reference models of the
  * native expressions in `graft.plans`. Each is the formulation the
  * engine ran before the compiled expression replaced it, written with
  * Spark built-ins only, so the differential specs can check the native
  * walks against an independent statement of the same function —
  * bit-for-bit, with the hot-bucket caps both dormant and engaged. Test
  * scope only: the library itself builds nothing but the native forms.
  */
object HofReference {

  // ---- MinHash signature (plans.MinHashSignature) -------------------

  /** MinHash signature: `k` independent min-hashes over `shingleArr`.
    * Component i is min over shingles of
    * universal-hash_i(baseHash(shingle)). Shaped as ONE `aggregate` over
    * the shingle array (element-wise min of per-shingle hash vectors)
    * rather than `transform(0..k-1, i => array_min(...))`: interpreted
    * higher-order functions have no CSE, so in the transform-outside
    * shape CollapseProject inlines the shingle-building expression into
    * the outer lambda and it is re-evaluated k times per row. */
  def minhashSignature(shingleArr: Column, k: Int, fast: Boolean = false): Column = {
    val (coefA, coefB) = TextFunctions.minhashCoefficients(k)
    val p = lit(TextFunctions.P)
    val aLit = array(coefA.map(lit): _*)
    val bLit = array(coefB.map(lit): _*)
    aggregate(
      transform(shingleArr, s => TextFunctions.baseHash(s, fast)),
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(
        acc,
        zip_with(aLit, bLit, (a, b) => pmod(a * h + b, p)),
        (x, y) => least(x, y)))
  }

  // ---- banded pair walks (plans.JaccardBucketPairs / PackedBucketPairs)

  /** Band slice of an array signature: components [b·r, b·r+r). */
  private def arraySlice(r: Int): (Column, Column) => Column =
    (sig, b) => slice(sig, b * r + 1, lit(r))

  /** Band slice of a packed long signature: bits [b·r, b·r+r). */
  private def packedSlice(r: Int): (Column, Column) => Column =
    (sig, b) => call_function("shiftright", sig, (b * r).cast("int"))
      .bitwiseAND(lit((1L << r) - 1))

  /** The banded LSH pair walk over (doc, sig, band, bkey) rows: each
    * bucket's member pairs, kept only in their first colliding band,
    * with the hot-bucket survivor + representative-chain branch above
    * `maxBucket` (semantics: plans.BucketPairsExpr). Output
    * (doc_a, doc_b, score). */
  def bucketPairs(banded: DataFrame, bandSlice: (Column, Column) => Column,
      score: (Column, Column) => Column, maxBucket: Option[Int]): DataFrame = {
    def pair(x: Column, y: Column): Column = {
      val keep = when(col("band") === 0, lit(true))
        .otherwise(forall(
          // sequence() steps DOWNWARD for an empty range, hence the
          // band === 0 guard above
          sequence(lit(0), col("band") - 1),
          b => !(bandSlice(x.getField("sig"), b) === bandSlice(y.getField("sig"), b))))
      struct(
        least(x.getField("doc"), y.getField("doc")).as("doc_a"),
        greatest(x.getField("doc"), y.getField("doc")).as("doc_b"),
        score(x.getField("sig"), y.getField("sig")).as("score"),
        keep.as("keep"))
    }
    def allPairs(ms: Column): Column =
      flatten(transform(ms, (a, i) =>
        transform(slice(ms, i + 2, size(ms)), b => pair(a, b))))
    val pairsCol = maxBucket match {
      case None => allPairs(col("ms"))
      case Some(cap) =>
        // struct sort = doc ascending (doc is the first field)
        val sorted = array_sort(col("ms"))
        when(size(col("ms")) <= cap, allPairs(col("ms")))
          .otherwise(concat(
            allPairs(slice(sorted, 1, cap)),
            transform(slice(sorted, lit(cap + 1), size(col("ms")) - cap),
              x => pair(element_at(sorted, 1), x))))
    }
    banded.groupBy("band", "bkey")
      .agg(collect_list(struct(col("doc"), col("sig"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode_outer(filter(pairsCol, p => p.getField("keep"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.score").as("score"))
  }

  /** Band-explode an array signature table into (doc, sig, band, bkey)
    * rows, each band key the `r`-component slice joined with '_' — the
    * key format of `Dedup.minhashBanded`. */
  def signatureBanded(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    sigs.select(col(idCol).as("doc"), col(sigCol).as("sig"))
      .select(col("doc"), col("sig"),
        posexplode_outer(transform(sequence(lit(0), lit(bands - 1)), i =>
          array_join(slice(col("sig"), i * r + 1, lit(r)).cast("array<string>"), "_")))
          .as(Seq("band", "bkey")))
      .filter(col("band").isNotNull)
  }

  /** Near-duplicate pairs over an array signature table with a
    * caller-supplied symmetric `score`. */
  def signaturePairs(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int, bands: Int, score: (Column, Column) => Column,
      maxBucket: Option[Int] = Some(graft.operators.Dedup.DefaultMaxBucket)): DataFrame =
    bucketPairs(signatureBanded(sigs, idCol, sigCol, bits, bands),
      arraySlice(bits / bands), score, maxBucket)

  /** `Dedup.minhashPairs` end to end on the reference signature and
    * walk: (doc_a, doc_b, est_jaccard). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxBucket: Option[Int], fast: Boolean = false): DataFrame = {
    import graft.operators.Dedup._
    val sigs = df
      .select(col(idCol).as("doc"), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= DefaultShingleN)
      .select(col("doc"), minhashSignature(
        TextFunctions.shinglesFromTokens(col("toks"), DefaultShingleN),
        DefaultMinhashK, fast).as("sig"))
    signaturePairs(sigs, "doc", "sig", DefaultMinhashK, DefaultMinhashBands,
      TextFunctions.estJaccard, maxBucket)
      .filter(col("score") >= DefaultMinhashThreshold)
      .select(col("doc_a"), col("doc_b"), col("score").as("est_jaccard"))
  }

  /** `Dedup.packedSignaturePairs` on the reference walk: Hamming-scored
    * pairs over packed long signatures. */
  def packedSignaturePairs(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int, bands: Int, maxBucket: Option[Int]): DataFrame =
    bucketPairs(
      graft.operators.Dedup.packedSignatureBanded(sigs, idCol, sigCol, bits, bands),
      packedSlice(bits / bands), (a, b) => bit_count(a.bitwiseXOR(b)), maxBucket)

  // ---- visitor×pool scoring (plans.ScoreTopK) -------------------------

  /** Every pool candidate of visitor `a` but itself, scored by cosine
    * (norms precomputed in the structs). */
  private def scored(pool: Column, a: Column): Column = transform(
    filter(pool, b => b.getField("id") =!= a.getField("id")),
    b => struct(
      (dot(a.getField("v"), b.getField("v")) /
        (a.getField("nrm") * b.getField("nrm"))).as("cos"),
      b.getField("id").as("neighbor_id")))

  /** Comparator: cosine descending, neighbor_id ascending — the total
    * order of `ORDER BY cos DESC, neighbor_id ASC`. */
  private def byCosDescIdAsc(l: Column, r: Column): Column =
    when(l.getField("cos") > r.getField("cos"), -1)
      .when(l.getField("cos") < r.getField("cos"), 1)
      .when(l.getField("neighbor_id") < r.getField("neighbor_id"), -1)
      .when(l.getField("neighbor_id") > r.getField("neighbor_id"), 1)
      .otherwise(0)

  /** Each visitor's ≤ k best pool candidates, best first:
    * array<struct<vec_id, neighbor_id, cos>>. */
  def scoreTopK(vs: Column, pool: Column, k: Int): Column =
    flatten(transform(vs, a =>
      transform(
        slice(array_sort(scored(pool, a), byCosDescIdAsc), 1, k),
        c => struct(
          a.getField("id").as("vec_id"),
          c.getField("neighbor_id").as("neighbor_id"),
          c.getField("cos").as("cos")))))

  /** Every scored (visitor, candidate) pair, unranked:
    * array<struct<vec_id, neighbor_id, cos>>. */
  def scoreAll(vs: Column, pool: Column): Column =
    flatten(transform(vs, a =>
      transform(scored(pool, a), c => struct(
        a.getField("id").as("vec_id"),
        c.getField("neighbor_id").as("neighbor_id"),
        c.getField("cos").as("cos")))))
}
