package streambench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{StreamProAnalytics => A}
import graft.operators.{Curation, Dedup, Materialize}
import graft.pipeline.{JobResult, LandingToRaw, RawToTrusted, SchemaRegistry}
import graft.store.LayerPaths

/** One benchmark workload: inputs written by `generate`, a one-time
  * `prepare`, and `iterate`, which makes the workload's calls into the
  * library through the probe and checks every output. */
abstract class Workload {
  /** Writes the inputs under `dir`. Set-up repeats it, so it must not
    * depend on earlier calls. */
  def generate(dir: Path): Unit
  /** One-time preparation over the inputs generated last. */
  def prepare(): Unit = ()
  def iterate(p: Probe, iter: Int): Unit
  /** Untimed iterations after the cold one, before the timed phase. */
  def warmups: Int = 0
  /** Traced runs only: layer measurements the public calls do not
    * separate, made once after the timed phase. */
  def layerProbes(p: Probe): Unit = ()
  /** Sizes and outcomes for the result's detail line. */
  def detail: Seq[(String, Any)]

  private var ops, bad, reported = 0
  def attempted: Int = ops
  def failed: Int = bad

  /** One call into the library: timed through the probe, then checked.
    * A call that throws or fails its check counts as failed. */
  protected def op[T](p: Probe, layer: String, name: String)(f: => T)(check: T => Unit): Option[T] = {
    ops += 1
    try {
      val out = p.call(layer, name)(f)
      check(out)
      Some(out)
    } catch {
      case e: Throwable =>
        bad += 1
        if (reported < 5) { reported += 1; System.err.println(s"FAILED $name: $e") }
        None
    }
  }

  protected def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(what)
}

/** Local-disk helpers. */
object Disk {
  /** Data files under `dir`: regular files, without Spark's `_SUCCESS`
    * markers and hidden checksum files. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }.toList

  def delete(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toList.reverse.foreach(Files.delete)

  def sha256(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}

/** Writes text documents as the parquet input the operators read. */
object DocFiles {
  def write(spark: SparkSession, docs: Seq[(Long, String)], dir: Path): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(dir.toString)
  }
}

/** daily_batch — the paper's daily run: each iteration lands one daily
  * drop into a fresh root, runs landing → raw → trusted, then answers the
  * notebook's statements over the trusted layer it just wrote. The write
  * path is two calls (`pipeline.*`); every statement is one call, and the
  * statements of one question form a group (`analytics.<group>.*`, with
  * plan and execute as separate spans when traced). */
final class DailyBatch(spark: SparkSession, seed: Long, k: Int, work: Path) extends Workload {
  private val date = StreamProGen.IngestionDate
  private val users = 100L * k
  private var landing: Path = _
  private var drop: StreamProGen.Drop = _
  private var trustedBytes, trustedFiles = 0L

  def generate(dir: Path): Unit = {
    landing = dir.resolve("landing")
    drop = StreamProGen.writeLanding(landing, k, seed)
  }

  def iterate(p: Probe, iter: Int): Unit = {
    val root = work.resolve(s"daily/day_$iter")
    Files.createDirectories(root.resolve("landing"))
    Files.list(landing).iterator().asScala.foreach(f =>
      Files.createLink(root.resolve("landing").resolve(f.getFileName), f))
    val paths = LayerPaths(root.toString)
    val copy = op(p, "pipeline", "pipeline.landing_to_raw")(
      new LandingToRaw(spark, paths, date).run()) { r =>
      expect(r.success && r.recordsProcessed == 4, s"landing_to_raw: $r")
    }
    copy.foreach(r => p.note("store.copy.bytes_per_s", drop.bytes / r.durationSeconds))
    op(p, "pipeline", "pipeline.raw_to_trusted")(rawToTrusted(p, paths)) { r =>
      expect(r.success, s"raw_to_trusted: $r")
      checkTrusted(p, paths, root)
    }
    questions(p)
    // the views now read this day's root; the previous day's is no longer needed
    Disk.delete(work.resolve(s"daily/day_${iter - 1}"))
  }

  /** Untraced: the public `runWithFailures`. Traced: the same steps in
    * `run()`'s order, one span each. */
  private def rawToTrusted(p: Probe, paths: LayerPaths): JobResult = {
    val r2t = new RawToTrusted(spark, paths, date)
    if (!p.tracing) return r2t.runWithFailures()
    val t0 = System.nanoTime()
    r2t.preProcess()
    val in = p.span("pipeline", "pipeline.raw_to_trusted.extract")(r2t.transform(r2t.extract()))
    val n = p.span("pipeline", "pipeline.raw_to_trusted.load")(r2t.load(in))
    val result = JobResult(r2t.jobName, success = true, (System.nanoTime() - t0) / 1e9, n)
    p.span("pipeline", "pipeline.raw_to_trusted.register")(r2t.postProcess(result))
    result
  }

  /** Row counts per table, schemas equal to the registry, views registered. */
  private def checkTrusted(p: Probe, paths: LayerPaths, root: Path): Unit = {
    val expected = Map("users" -> drop.users, "videos" -> drop.videos,
      "devices" -> drop.devices, "events" -> drop.events)
    for (t <- SchemaRegistry.all) {
      val part = s"${paths.trustedTable(t.locationSuffix)}/${SchemaRegistry.PartitionCol}=$date"
      val df = spark.read.parquet(part)
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = t.schema.fields.map(f => (f.name, f.dataType)).toSeq
      expect(got == want, s"${t.name} schema $got != registry $want")
      val n = df.count()
      expect(n == expected(t.name), s"${t.name} rows $n != ${expected(t.name)}")
      expect(spark.catalog.tableExists(t.trustedName), s"view ${t.trustedName} missing")
    }
    val files = p.span("store", "store.trusted")(Disk.dataFiles(root.resolve("trusted")))
    trustedFiles = files.size
    trustedBytes = files.map(Files.size).sum
    p.note("store.trusted.files", trustedFiles)
    p.note("store.trusted.bytes", trustedBytes)
    p.note("store.trusted_bytes_per_input_byte", trustedBytes.toDouble / drop.bytes)
  }

  private def stmt(p: Probe, group: String, name: String)(build: => DataFrame)(check: Array[Row] => Unit): Unit =
    op(p, "analytics", s"analytics.$group.$name") {
      val df = p.span("analytics", s"analytics.$group.plan") {
        val d = build
        d.queryExecution.executedPlan
        d
      }
      p.span("analytics", s"analytics.$group.exec")(df.collect())
    }(check)

  private def num(r: Row, c: String): Double = r.getAs[Number](c).doubleValue()

  /** The notebook's first session cell, one distribution and its Q1-Q3
    * statements, each checked against the answers the generator plants. */
  private def questions(p: Probe): Unit = {
    stmt(p, "sessions", "session_bounds")(A.sessionBounds(spark)) { rs =>
      expect(rs.length == users, s"${rs.length} users")
      expect(rs.forall(_.getAs[String]("first_session_id").endsWith("_sess_0_0")), "first session")
    }
    stmt(p, "dist", "device_os_distribution")(A.deviceOsDistribution(spark)) { rs =>
      expect(rs.map(_.getAs[Long]("unique_users")).sum == users, "distribution does not cover every user")
    }
    stmt(p, "q1", "q1_analysis")(A.q1Analysis(spark)) { rs =>
      val r = rs.head
      expect(r.getAs[Long]("total_users") == users && r.getAs[Long]("users_with_watch_time") == 97L * k &&
        r.getAs[Long]("users_with_30_plus") == k && num(r, "pct_reaching_30_seconds") == 1.0, s"Q1 $r")
    }
    stmt(p, "q1", "q1_successful_users")(A.q1SuccessfulUsers(spark)) { rs =>
      expect(rs.map(_.getAs[String]("user_id")).sorted.toSeq == StreamProGen.winners(k).sorted &&
        rs.forall(_.getAs[Double]("total_watch_time") == 39.0), "Q1 winners")
    }
    stmt(p, "q2", "q2_dominant_genre")(A.q2DominantGenre(spark)) { rs =>
      expect(rs.head.getAs[String]("dominant_genre") == "Comedy", s"Q2 ${rs.head}")
      expect(rs.forall(num(_, "return_rate_pct") == 100.0), "Q2 return rate")
      expect(num(rs.head, "engagement_quality_score") == rs.map(num(_, "engagement_quality_score")).max,
        "Q2 engagement")
    }
    stmt(p, "q3", "q3_composite_scores")(A.q3CompositeScores(spark)) { rs =>
      val w = rs.head
      expect(w.getAs[String]("device_os") == "iOS" && w.getAs[String]("app_version") == "2.0.1" &&
        num(w, "low_watch_time_rate_pct") == 60.0 && w.getAs[Long]("total_users") == 5L * k, s"Q3 $w")
    }
    stmt(p, "q3", "q3_worst_combo_users")(A.q3WorstComboUsers(spark, "iOS", "2.0.1")) { rs =>
      expect(rs.map(_.getString(0)).toSeq == StreamProGen.worstComboUsers(k), "Q3 cohort")
    }
  }

  def detail: Seq[(String, Any)] = Seq(
    "tiles" -> k, "users" -> drop.users, "events" -> drop.events,
    "landing_bytes" -> drop.bytes, "trusted_files" -> trustedFiles, "trusted_bytes" -> trustedBytes,
    "trusted_bytes_per_input_byte" -> trustedBytes.toDouble / drop.bytes, "statements" -> 7)
}

/** The curation half of `curate_dedup`: `Curation.curate` with the
  * default config over a corpus in the shape of the generated `documents`
  * table. The content is fixed; the seed permutes row order, so the kept
  * set is pinned. */
final class CurateCorpus(spark: SparkSession, seed: Long, docs: Int) extends Workload {
  import CurateCorpus._
  private var path: Path = _
  private var ids: Set[Long] = Set.empty
  private var kept = 0

  def generate(dir: Path): Unit = {
    path = dir.resolve("docs")
    val corpus = DocGen.plantedCorpus(docs, ContentSeed, seed)
    ids = corpus.map(_._1).toSet
    DocFiles.write(spark, corpus, path)
  }

  def iterate(p: Probe, iter: Int): Unit =
    op(p, "operators", "operators.curate")(
      Curation.curate(spark.read.parquet(path.toString), "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0))) { out =>
      kept = out.length
      p.note("operators.curate.docs_kept", kept)
      expect(out.forall(ids.contains), "kept ids outside the input")
      val digest = Disk.sha256(out.sorted.map(_.toString).toSeq)
      expect(Pinned.get(docs).contains((kept, digest)),
        s"kept set ($kept, $digest) != pinned ${Pinned.get(docs)}")
    }

  /** Two stages `curate` runs inside its one call: the fused quality and
    * language filter, and the n-gram pair graph. */
  override def layerProbes(p: Probe): Unit = {
    val corpus = spark.read.parquet(path.toString)
    p.span("operators", "operators.curate.quality_lang")(
      Curation.qualityLangFilter(corpus, "doc_id", "text").count())
    val survivors = Curation.qualityLangFilter(corpus, "doc_id", "text").select("doc_id", "text")
    val pairs = p.span("operators", "operators.dedup.ngram_pairs")(
      Materialize.stage(Dedup.ngramJaccardPairs(survivors, "doc_id", "text"), eager = true))
    p.note("operators.dedup.ngram_pairs.pairs", pairs.count())
  }

  def detail: Seq[(String, Any)] = Seq("curate_docs" -> docs, "curate_kept" -> kept)
}

object CurateCorpus {
  val ContentSeed = 42L
  /** Kept count and SHA-256 of the sorted kept ids, per corpus size. */
  val Pinned: Map[Int, (Int, String)] = Map(
    500 -> (410, "1e3e72918617074e307281652c9557277f2b1ac6d572cc618357cb84150dbbc5"),
    5000 -> (4106, "a044c5f4d122ce2b61183ace2bd3e4bbd8b10614baa9e2b843fe7d82f7e3198b"))
}

/** The MinHash half of `curate_dedup`: the near-duplicate flow over families of
  * near-identical documents: pairs → clusters → keep best. Sized so the
  * pair graph has well over `ccDriverMaxEdges` directed edges, which
  * sends clustering down the distributed path. The families are
  * near-cliques (diameter about 1), so this does not exercise long
  * chains. */
final class DedupDense(spark: SparkSession, seed: Long, families: Int, familySize: Int)
    extends Workload {
  import DedupDense._
  private var path: Path = _
  private var generated: Seq[(Long, String)] = Nil
  private var docIds: Array[Long] = Array.empty
  private var exact: Set[(Long, Long)] = Set.empty
  private var pairs, clusters = 0L
  private var recall = 0.0

  private def corpus: DataFrame = spark.read.parquet(path.toString)

  def generate(dir: Path): Unit = {
    path = dir.resolve("docs")
    generated = DocGen.families(families, familySize, seed)
    docIds = generated.map(_._1).toArray
    DocFiles.write(spark, generated, path)
  }

  /** The exact pair set MinHash recall is measured against: every pair
    * of documents whose word-trigram sets have Jaccard similarity at or
    * above the MinHash threshold, computed on the driver through an
    * inverted index, independently of the library. */
  override def prepare(): Unit = {
    val ids = docIds
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    val shingles = generated.map { case (_, text) =>
      val t = text.split(" ")
      (0 to t.length - Dedup.DefaultShingleN)
        .map(i => dict.getOrElseUpdate(t.slice(i, i + Dedup.DefaultShingleN).mkString(" "), dict.size))
        .distinct.toArray
    }.toArray
    val postings = Array.fill(dict.size)(scala.collection.mutable.ArrayBuilder.make[Int])
    for (d <- shingles.indices; s <- shingles(d)) postings(s) += d
    val docsOf = postings.map(_.result())
    // common-shingle counts of document d with every later document
    val common = new Array[Int](ids.length)
    val out = Set.newBuilder[(Long, Long)]
    for (d <- shingles.indices) {
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (s <- shingles(d); e <- docsOf(s) if e > d) {
        if (common(e) == 0) touched += e
        common(e) += 1
      }
      for (e <- touched) {
        val c = common(e)
        if (c.toDouble / (shingles(d).length + shingles(e).length - c) >= Dedup.DefaultMinhashThreshold)
          out += ((math.min(ids(d), ids(e)), math.max(ids(d), ids(e))))
        common(e) = 0
      }
    }
    exact = out.result()
  }

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.iterator.map { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      (math.min(a, b), math.max(a, b))
    }.toSet

  def iterate(p: Probe, iter: Int): Unit = {
    val docs = corpus
    var found: Set[(Long, Long)] = Set.empty
    val mh = op(p, "operators", "operators.dedup.minhash_pairs")(
      Materialize.stage(Dedup.minhashPairs(docs, "doc_id", "text"), eager = true)) { df =>
      found = pairSet(df.collect())
      pairs = found.size
      recall = found.count(exact.contains).toDouble / math.max(1, exact.size)
      p.note("operators.dedup.minhash_pairs.pairs", pairs)
      val floor = RecallFloor(exact.size)
      expect(recall >= floor, f"recall $recall%.5f below $floor")
    }
    val uf = new UnionFind
    found.foreach { case (a, b) => uf.union(a, b) }
    op(p, "operators", "operators.dedup.clusters")(
      Dedup.duplicateClusters(mh.get).collect()) { rows =>
      p.note("operators.dedup.clusters.pairs", pairs)
      val labels = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      expect(labels.size == rows.length, "a document has two labels")
      expect(labels.keySet == uf.members, "labelled documents != documents in pairs")
      expect(labels.forall { case (d, c) => uf.find(d) == c }, "labels != min-id components")
      clusters = labels.values.toSet.size
    }
    op(p, "operators", "operators.dedup.keep_best")(
      Dedup.keepBestPerCluster(docs, "doc_id", "text", mh.get).collect()) { rows =>
      p.note("operators.dedup.keep_best.pairs", pairs)
      val sizes = docIds.groupBy(uf.find).map { case (c, m) => c -> m.length }
      val byCluster = rows.map(r => uf.find(r.getAs[Long]("doc_id")) -> r.getAs[Long]("cluster_size"))
      expect(byCluster.length == sizes.size && byCluster.map(_._1).toSet == sizes.keySet,
        "not one kept row per component")
      expect(byCluster.forall { case (c, n) => sizes(c) == n }, "cluster sizes")
    }
  }

  /** The two native kernels, each as a compiled projection over
    * materialized rows minus the same projection without the kernel
    * (one thread, no Spark job around it). */
  override def layerProbes(p: Probe): Unit = {
    import graft.functions.TextFunctions.{shinglesFromTokens, tokens}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val docs = corpus
    p.span("plans", "plans.graft_minhash") {
      val sh = docs.select(tokens(col("text")).as("toks"))
        .select(shinglesFromTokens(col("toks"), Dedup.DefaultShingleN).as("sh"))
      val in = BoundReference(0, sh.schema("sh").dataType, nullable = true)
      val rows = Kernels.rows(sh)
      val shingles = rows.map(_.getArray(0).numElements().toLong).sum
      p.note("plans.graft_minhash.ns_per_shingle", Kernels.netNanos(rows,
        graft.plans.MinHashSignature(in, Dedup.DefaultMinhashK), in) / shingles)
    }
    p.span("plans", "plans.jaccard_pairs") {
      val buckets = Dedup.minhashBanded(docs, "doc_id", "text")
        .groupBy("band", "bkey").agg(collect_list(struct(col("doc"), col("sig"))).as("ms"))
        .filter(size(col("ms")) > 1)
        .select("ms", "band")
      val ms = BoundReference(0, buckets.schema("ms").dataType, nullable = true)
      val band = BoundReference(1, buckets.schema("band").dataType, nullable = true)
      val rows = Kernels.rows(buckets)
      val walked = rows.map { r => val m = r.getArray(0).numElements().toLong; m * (m - 1) / 2 }.sum
      p.note("plans.jaccard_pairs.ns_per_pair", Kernels.netNanos(rows,
        graft.plans.JaccardBucketPairs(ms, band, Dedup.DefaultMinhashK / Dedup.DefaultMinhashBands,
          Dedup.DefaultMaxBucket, Dedup.DefaultMinhashThreshold), ms) / walked)
    }
  }

  def detail: Seq[(String, Any)] = Seq(
    "families" -> families, "family_size" -> familySize, "dedup_docs" -> docIds.length,
    "exact_pairs" -> exact.size, "pairs" -> pairs, "edges" -> 2 * pairs,
    "cc_driver_max_edges" -> Dedup.DefaultCcDriverMaxEdges,
    "cc_path" -> (if (2 * pairs > Dedup.DefaultCcDriverMaxEdges) "distributed" else "driver"),
    "clusters" -> clusters, "recall" -> recall)
}

object DedupDense {
  /** MinHash recall against the exact n-gram pairs may not drop below
    * this: 0.999 for the ~148,500 pairs of the full size (0.9997 and
    * above measured at the commit that added the benchmark), 0.99 for the
    * few hundred pairs of the smoke size, where one missed pair costs
    * 0.2 %. */
  def RecallFloor(exactPairs: Int): Double = if (exactPairs >= 10000) 0.999 else 0.99
}

/** curate_dedup — both operator flows in one iteration, curation then
  * MinHash dedup, each over its own input. */
final class CurateDedup(parts: Seq[Workload]) extends Workload {
  // the first iterations after the cold one still fall by a fifth as the
  // JIT compiles the operators; with four calls an iteration, the timed
  // pair is otherwise dominated by that trend
  override def warmups: Int = 1
  def generate(dir: Path): Unit =
    parts.zipWithIndex.foreach { case (w, i) => w.generate(dir.resolve(s"part_$i")) }
  override def prepare(): Unit = parts.foreach(_.prepare())
  def iterate(p: Probe, iter: Int): Unit = parts.foreach(_.iterate(p, iter))
  override def layerProbes(p: Probe): Unit = parts.foreach(_.layerProbes(p))
  override def attempted: Int = parts.map(_.attempted).sum
  override def failed: Int = parts.map(_.failed).sum
  def detail: Seq[(String, Any)] = parts.flatMap(_.detail)
}

/** Min-id union-find: the benchmark's own component oracle. */
final class UnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
  def members: Set[Long] = parent.keySet.toSet
  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }
  def union(a: Long, b: Long): Unit = {
    parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    val ra = find(a); val rb = find(b)
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
}

object Kernels {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}

  def rows(df: DataFrame): Array[InternalRow] = df.queryExecution.toRdd.map(_.copy()).collect()

  /** Median over five alternating passes, after two warm-up passes of each, of
    * the time `kernel`'s compiled projection takes over `rows` minus the
    * time of `baseline`'s, nanoseconds. */
  def netNanos(rows: Array[InternalRow], kernel: Expression, baseline: Expression): Double = {
    val k = UnsafeProjection.create(Seq(kernel))
    val b = UnsafeProjection.create(Seq(baseline))
    def pass(proj: UnsafeProjection): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) { proj(rows(i)); i += 1 }
      (System.nanoTime() - t0).toDouble
    }
    (1 to 2).foreach { _ => pass(k); pass(b) }
    Main.median((1 to 5).map(_ => pass(k) - pass(b)))
  }
}
