package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

/** Lloyd's k-means trainer: deterministic, objective non-increasing,
  * and its centroids slot into the existing assignment operator.
  */
class KmeansSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def objective(cents: org.apache.spark.sql.DataFrame): Double =
    Similarity
      .assignToCentroids(
        emb.select(col("vec_id"), col("embedding")),
        cents.select(col("centroid_id").as("vec_id"), col("centroid").as("embedding")),
        "vec_id", "embedding")
      .agg(sum(col("d2"))).collect()(0).getDouble(0)

  test("objective is non-increasing over iterations and the fit is partition-independent") {
    val objs = Seq(0, 1, 3, 6).map { it =>
      objective(Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = it))
    }
    objs.zip(objs.tail).foreach { case (a, b) =>
      assert(b <= a + 1e-3, s"objective rose across iterations: $objs")
    }
    assert(objs.last < objs.head, s"no improvement at all: $objs")

    // partition independence up to float summation order of the means
    // (the map-side combine folds partitions in arbitrary order)
    val fitA = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val fitB = Similarity.kmeansFit(emb.repartition(7), "vec_id", "embedding", k = 8, iters = 3)
    assert(fitA.count() == 8)
    val maxDelta = fitA.join(fitB.withColumnRenamed("centroid", "c2"), Seq("centroid_id"))
      .select(expr(
        "aggregate(zip_with(centroid, c2, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x))"))
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect()
      .max
    assert(maxDelta < 1e-9, s"centroids drift $maxDelta across partitionings")
  }

  test("sampled training route: small corpora train exactly; capped corpora stay near the full objective") {
    // at or under the budget the filter is skipped entirely — plans
    // and centroids are IDENTICAL to kmeansFit
    val full = Similarity.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val same = Similarity.kmeansFitSampled(emb, "vec_id", "embedding", k = 8, iters = 3,
      maxTrainRows = 1000000L)
    val drift = full.join(same.withColumnRenamed("centroid", "c2"), Seq("centroid_id"))
      .select(expr(
        "aggregate(zip_with(centroid, c2, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x))"))
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().max
    assert(drift == 0.0, s"under-budget route must be the exact full fit (drift $drift)")
    // over the budget: train on the hash sample, score on the FULL
    // corpus — objective must stay within a modest factor of full
    // training (Lloyd's estimates means; a uniform sample suffices)
    val cap = emb.count() / 3
    val sampled = Similarity.kmeansFitSampled(emb, "vec_id", "embedding", k = 8, iters = 3,
      maxTrainRows = cap)
    assert(sampled.count() == 8)
    val objFull = objective(full)
    val objSampled = objective(sampled)
    assert(objSampled < objFull * 1.5,
      s"sample-trained objective $objSampled vs full $objFull")
    // deterministic: same call twice → identical centroids
    val again = Similarity.kmeansFitSampled(emb, "vec_id", "embedding", k = 8, iters = 3,
      maxTrainRows = cap)
    val drift2 = sampled.join(again.withColumnRenamed("centroid", "c2"), Seq("centroid_id"))
      .select(expr(
        "aggregate(zip_with(centroid, c2, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x))"))
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().max
    assert(drift2 == 0.0, s"hash sample must be deterministic (drift $drift2)")
  }

  test("hash-ordered init survives id-correlated clusters (smallest-id seeds would not)") {
    import spark.implicits._
    // ids encode the cluster (the common shard-by-source layout): ids
    // 0..99 sit near the origin, ids 100..199 near (10, 10). A
    // smallest-id init would place BOTH seeds inside the low-id
    // cluster; the md5-ordered init samples across the id space, so
    // Lloyd converges to one centroid per true cluster.
    val pts = (Seq.tabulate(100)(i => (i.toLong, Seq(0.1 * (i % 7), 0.1 * (i % 5)))) ++
      Seq.tabulate(100)(i => (100L + i, Seq(10.0 + 0.1 * (i % 7), 10.0 + 0.1 * (i % 5)))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(pts, "vec_id", "embedding", k = 2, iters = 8)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    assert(cents.length == 2)
    // one centroid in each cluster's neighborhood
    val nearLow = cents.count(c => math.abs(c(0)) < 2.0 && math.abs(c(1)) < 2.0)
    val nearHigh = cents.count(c => math.abs(c(0) - 10.0) < 2.5 && math.abs(c(1) - 10.0) < 2.5)
    assert(nearLow == 1 && nearHigh == 1,
      s"centroids ${cents.map(_.mkString("(", ",", ")")).mkString(" ")}")
  }

  test("sharded two-level build: codebook shape, determinism, and per-shard locality") {
    import spark.implicits._
    // four well-separated clusters with id-correlated layout (the
    // shard-by-source case the md5 init exists for)
    val pts = (0 until 4).flatMap { c =>
      val (cx, cy) = (10.0 * (c % 2), 10.0 * (c / 2))
      Seq.tabulate(50)(i => ((c * 50 + i).toLong, Seq(cx + 0.1 * (i % 7), cy + 0.1 * (i % 5))))
    }.toDF("vec_id", "embedding")
    val book = Similarity.kmeansFitSharded(pts, "vec_id", "embedding",
      kCoarse = 4, kFine = 2, iters = 4)
    val rows = book.collect()
    assert(rows.length <= 8 && rows.length >= 4, s"${rows.length} cells")
    // flat id encodes (shard, fine)
    rows.foreach { r =>
      val (cid, shard) = (r.getLong(0), r.getLong(2))
      assert(cid / 2 == shard, s"centroid_id $cid not in shard $shard's range")
    }
    // every fine centroid sits inside ONE true cluster's neighborhood
    // (per-shard training must not average across shards)
    rows.foreach { r =>
      val c = r.getSeq[Double](1)
      val nearest = Seq((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0))
        .map { case (x, y) => math.hypot(c(0) - x, c(1) - y) }.min
      assert(nearest < 2.0, s"fine centroid ${c.mkString(",")} between clusters")
    }
    // deterministic: the same call twice is bit-identical
    val again = Similarity.kmeansFitSharded(pts, "vec_id", "embedding",
      kCoarse = 4, kFine = 2, iters = 4)
    val drift = book.join(again.withColumnRenamed("centroid", "c2"), Seq("centroid_id"))
      .select(expr(
        "aggregate(zip_with(centroid, c2, (a, b) -> abs(a - b)), 0D, (m, x) -> greatest(m, x))"))
      .as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().max
    assert(drift == 0.0, s"sharded build must be deterministic (drift $drift)")
    // the per-shard cap bounds task memory without changing the shape
    val capped = Similarity.kmeansFitSharded(pts, "vec_id", "embedding",
      kCoarse = 4, kFine = 2, iters = 4, maxTrainRowsPerShard = 20)
    assert(capped.count() == rows.length)
  }

  test("hierarchical serving: all-shards probe is identical to the flat scan; partial probe finds local neighbors") {
    import spark.implicits._
    // +0.5 offset keeps every vector off the origin (a zero-norm
    // vector has no cosine — ANSI division by zero)
    val pts = (0 until 4).flatMap { c =>
      val (cx, cy) = (10.0 * (c % 2) + 0.5, 10.0 * (c / 2) + 0.5)
      Seq.tabulate(50)(i => ((c * 50 + i).toLong, Seq(cx + 0.1 * (i % 7), cy + 0.1 * (i % 5))))
    }.toDF("vec_id", "embedding")
    val book = Similarity.kmeansFitSharded(pts, "vec_id", "embedding",
      kCoarse = 4, kFine = 2, iters = 4)
    val flatCents = book.select(col("centroid_id").as("vec_id"), col("centroid").as("embedding"))
    val q = pts.filter(col("vec_id") % 50 === 0) // one query per true cluster
    // with every shard probed, the two-level candidate cell set equals
    // the flat scan's — results must be row-identical
    val flat = Similarity.ivfTopK(pts, flatCents, q, "vec_id", "embedding", nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val hier = Similarity.ivfTopKSharded(pts, book, q, "vec_id", "embedding",
      nprobeShards = 4, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(hier == flat, s"all-shards hierarchical probe must equal the flat scan\nflat $flat\nhier $hier")
    // with ONE shard probed, each query must still find same-cluster
    // neighbors (its own shard) — the locality the coarse level buys
    val local = Similarity.ivfTopKSharded(pts, book, q, "vec_id", "embedding",
      nprobeShards = 1, nprobe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(local.nonEmpty)
    local.foreach { case (qid, nid) =>
      assert(qid / 50 == nid / 50, s"query $qid got cross-cluster neighbor $nid under 1-shard probe")
    }
    // partition independence at kFine = 3: the shard representatives
    // are integer-micro means, so the serving result must not depend
    // on the codebook frame's partitioning (a float avg's merge order
    // would make 3-value sums shuffle-dependent)
    val book3 = Similarity.kmeansFitSharded(pts, "vec_id", "embedding",
      kCoarse = 4, kFine = 3, iters = 4)
    def serve(b: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKSharded(pts, b, q, "vec_id", "embedding",
        nprobeShards = 2, nprobe = 2, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(serve(book3) == serve(book3.repartition(7)),
      "kFine=3 serving must be partition-independent (order-free rep means)")
  }

  test("simplified silhouette: tight member ≈ 1, boundary point 0, wrong-side point < 0") {
    import spark.implicits._
    // two centroids on the x axis at 0 and 10 (2-dim vectors)
    val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 0.0))).toDF("id", "vec")
    val pts = Seq(
      (100L, Seq(0.1, 0.0)),  // hugging centroid 0 → sil near 1
      (101L, Seq(5.0, 0.0)),  // equidistant → sil 0
      (102L, Seq(0.0, 0.0))   // exactly ON its centroid: a = 0 → sil 1
    ).toDF("id", "vec")
    val s = Similarity.simplifiedSilhouette(pts, cents, "id", "vec")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    assert(s(100L)._1 == 0L && s(100L)._2 > 0.98, s"tight member: ${s(100L)}")
    assert(math.abs(s(101L)._2) < 1e-9, s"boundary point: ${s(101L)}")
    assert(s(102L)._1 == 0L && s(102L)._2 == 1.0, s"on-centroid: ${s(102L)}")
    // a real separation scores high; two IDENTICAL centroids (the
    // degenerate clustering) score exactly 0 everywhere (a == b)
    val wellSep = (Seq.tabulate(20)(i => (i.toLong, Seq(0.1 * (i % 5), 0.0))) ++
      Seq.tabulate(20)(i => (100L + i, Seq(10.0 + 0.1 * (i % 5), 0.0)))).toDF("id", "vec")
    val sepCents = Seq((0L, Seq(0.2, 0.0)), (1L, Seq(10.2, 0.0))).toDF("id", "vec")
    val goodMean = Similarity.simplifiedSilhouette(wellSep, sepCents, "id", "vec")
      .agg(avg(col("sil"))).collect()(0).getDouble(0)
    assert(goodMean > 0.9, s"well-separated clustering mean sil $goodMean")
    val sameCents = Seq((0L, Seq(5.0, 0.0)), (1L, Seq(5.0, 0.0))).toDF("id", "vec")
    val degen = Similarity.simplifiedSilhouette(wellSep, sameCents, "id", "vec")
      .select(col("sil")).collect().map(_.getDouble(0))
    assert(degen.forall(_ == 0.0), "identical centroids must score 0 everywhere")
  }

  test("a failing training pass still releases the cached projection") {
    val vectors = spark.range(16).select(col("id"),
      expr("if(id >= 0, raise_error('injected vector fault'), array(1D, 2D))").as("vec"))
    intercept[Exception](Similarity.kmeansFit(vectors, "id", "vec", k = 2, iters = 2))
    // the same projection kmeansFit persists: the cache lookup is by plan
    val projection = vectors.select(col("id"), col("vec").cast("array<double>").as("vv"))
    assert(projection.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the persisted projection leaked past the failed fit")
  }
}
