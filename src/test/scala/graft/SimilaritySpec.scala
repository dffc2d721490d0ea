package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f)),
    (4L, Seq(1.0f, 0.0f, 0.01f))
  ).toDF("vec_id", "embedding")

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val c = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(math.abs(c((0L, 0L)) - 1.0) < 1e-12)
    assert(math.abs(c((0L, 2L))) < 1e-12)
    assert(c((0L, 1L)) > 0.99 && c((0L, 1L)) < 1.0)
  }

  test("brute-force top-k ranks by cosine desc with id tie-break, excludes self") {
    val topk = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", "vec_id", "embedding", k = 2)
    val rows = topk.select("corpus_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(rows.map(_._1).toSeq === Seq(4L, 1L)) // 4 is closest to 0, then 1
  }

  test("zero vector gets cosine 0, no NaN") {
    val z = Seq((9L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(z, vecs, "vec_id", "embedding", "vec_id", "embedding", 5)
    assert(got.filter($"cos".isNaN).count() === 0)
    assert(got.count() === 5)
  }

  test("a null corpus embedding is excluded from top-k, never a job failure") {
    // one bad row must not kill the whole ranking: the aggregator path's
    // (Double, Long) input encoder would die on a null cosine — both
    // ranking paths now drop null scores up front, identically
    val dirty = vecs.unionByName(
      Seq((9L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val got = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), dirty, "vec_id", "embedding", "vec_id", "embedding", k = 10)
    val ids = got.select("corpus_id").as[Long].collect().toSet
    assert(!ids.contains(9L), "null embedding can never be a neighbor")
    assert(ids === Set(1L, 2L, 3L, 4L)) // everything real, self excluded
    // string-id twin takes the window path — same exclusion
    val gotS = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0).select($"vec_id".cast("string").as("vec_id"), $"embedding"),
      dirty.select($"vec_id".cast("string").as("vec_id"), $"embedding"),
      "vec_id", "embedding", "vec_id", "embedding", k = 10)
    assert(gotS.select("corpus_id").as[String].collect().toSet === Set("1", "2", "3", "4"))
  }

  test("srp bucket key is deterministic, one bit per plane") {
    val b = vecs.select(Similarity.srpBucket($"embedding", 8).as("b")).as[String].collect()
    assert(b.forall(_.length === 8))
    val b2 = vecs.select(Similarity.srpBucket($"embedding", 8).as("b")).as[String].collect()
    assert(b.toSeq === b2.toSeq)
  }

  test("LSH top-k finds the near neighbor for a clustered corpus") {
    val topk = Similarity.lshTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, planes = 2, dims = 3)
    val ids = topk.select("corpus_id").as[Long].collect().toSet
    assert(ids.contains(4L)) // nearest neighbor shares the bucket
  }

  test("literal-sign bucket keys equal the md5-expression srpBucket bit-for-bit") {
    val both = vecs.select(
      Similarity.srpBucket($"embedding", 8).as("expr"),
      element_at(Similarity.srpBucketKeys($"embedding", 8, tables = 2, dims = 3), 1).as("lit0"))
    assert(both.filter($"expr" =!= $"lit0").count() === 0)
  }

  test("aggregator top-k equals the window-rank form") {
    val q = vecs.filter($"vec_id" < 3)
    val a = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val w = Oracles.bruteForceTopKWindow(q, vecs, "vec_id", "embedding", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a === w)
  }

  test("near-dup pairs on real embeddings run end-to-end at sf0.001") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding",
      minCos = 0.99, planes = 2, dims = 64, tables = 2)
    // just exercises the full plan; synthetic vectors rarely collide at .99
    assert(pairs.columns.toSeq === Seq("id_a", "id_b", "cos"))
    pairs.count()
  }

  test("native dot product equals the interpreted fold bit-for-bit") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val pairs = emb.as("a").join(emb.as("b"),
      col("a.vec_id") < col("b.vec_id") && col("b.vec_id") < 30)
    val diff = pairs.select(
        Similarity.dot(col("a.embedding"), col("b.embedding")).as("n"),
        Oracles.dotFold(col("a.embedding"), col("b.embedding")).as("f"))
      .filter(col("n") =!= col("f"))
    assert(diff.count() === 0)
  }

  test("native dot product: length mismatch and null elements yield null, like the fold") {
    val odd = Seq(
      (Seq(Some(1.0f), Some(2.0f)), Seq(Some(1.0f), Some(2.0f), Some(3.0f))),
      (Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f))),
      (Seq.empty[Option[Float]], Seq.empty[Option[Float]])
    ).toDF("a", "b")
    val rows = odd.select(
        Similarity.dot($"a", $"b").as("n"),
        Oracles.dotFold($"a", $"b").as("f"))
      .collect()
    rows.foreach { r => assert(r.isNullAt(0) === r.isNullAt(1)) }
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0))
    assert(rows(2).getDouble(0) === 0.0)
  }

  test("IVF top-k is deterministic, rank-dense, and scores match brute force per pair") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, centroids = 8, nprobe = 2)
    val rows = ivf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.nonEmpty)
    // ranks are dense 1..n per query
    rows.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._4).sorted.toSeq === (1 to rs.size).toSeq)
    }
    // every (query, corpus) cosine equals the exact brute-force cosine
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", "vec_id", "embedding",
      k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { case (qid, cid, cos, _) => assert(bf((qid, cid)) === cos) }
    // deterministic across invocations
    val again = Similarity.ivfTopK(q, emb, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, centroids = 8, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.toSet === again.toSet)
  }

  test("IVF clamps nprobe to the actual cell count for corpora smaller than centroids") {
    // 4 corpus vectors but centroids=8 requested: the sample yields 4 cells;
    // nprobe=6 must clamp to 4 (probe everything), not throw
    val tiny = vecs.filter($"vec_id" < 4)
    val got = Similarity.ivfTopK(tiny.filter($"vec_id" === 0), tiny,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, centroids = 8, nprobe = 6)
    val bf = Similarity.bruteForceTopK(tiny.filter($"vec_id" === 0), tiny,
      "vec_id", "embedding", "vec_id", "embedding", k = 3)
    assert(got.select("query_id", "corpus_id", "cos").collect().toSet ===
      bf.select("query_id", "corpus_id", "cos").collect().toSet)
  }

  test("top-k preserves non-numeric corpus id types via the window fallback") {
    val named = vecs.withColumn("name", concat(lit("vec-"), $"vec_id"))
      .select($"name", $"embedding")
    val got = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0).withColumn("name", lit("q0")).select($"name", $"embedding"),
      named, "name", "embedding", "name", "embedding", k = 2, excludeSelf = false)
    val ids = got.orderBy("rank").select("corpus_id").as[String].collect().toSeq
    assert(ids === Seq("vec-0", "vec-4")) // identical vector first, then nearest
  }

  test("srpBucketKeys raises on a dims mismatch instead of bucketing everything together") {
    val err = intercept[Exception] {
      vecs.select(Similarity.srpBucketKeys($"embedding", 2, 1, dims = 64)).collect()
    }
    assert(err.getMessage.contains("expected 64-dim") ||
      Option(err.getCause).exists(_.getMessage.contains("expected 64-dim")))
  }

  test("int8 quantization round-trips within scale/2 per component; zero vector is safe") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rt = emb.select($"vec_id", $"embedding",
        Similarity.quantizeInt8($"embedding").as("q"))
      .select($"vec_id", $"embedding", $"q.scale".as("scale"),
        Similarity.dequantizeInt8($"q").as("back"))
    // max |x - back| <= scale/2 + ulp noise, codes bounded to [-127, 127]
    val bad = rt.select(
        aggregate(zip_with($"embedding", $"back",
            (x, y) => abs(x.cast("double") - y)),
          lit(0.0), (acc, v) => greatest(acc, v)).as("err"),
        $"scale")
      .filter($"err" > $"scale" / 2 + 1e-12)
    assert(bad.count() === 0)
    val outOfRange = emb.select(Similarity.quantizeInt8($"embedding").as("q"))
      .select(explode($"q.codes").as("c")).filter(abs($"c") > 127)
    assert(outOfRange.count() === 0)
    // zero vector: scale 0, all-zero codes, no NaN/null
    val z = Seq((0L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8($"embedding").as("q")).head
    val zq = z.getStruct(0)
    assert(zq.getDouble(0) === 0.0)
    assert(zq.getSeq[Int](1) === Seq(0, 0))
  }

  test("LSH over quantized vectors keeps usable recall (candidate-gen on codes)") {
    // the 100 TB shape: bucket/candidate generation over 4x-smaller
    // dequantized vectors, exact scoring unchanged — recall should not
    // collapse relative to the same params on full-precision vectors
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val deq = emb.select($"vec_id",
      Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")).as("embedding"))
    val q = deq.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 5), emb, "vec_id", "embedding", "vec_id", "embedding", k = 10)
    val lshQ = Similarity.lshTopK(
      q, deq, "vec_id", "embedding", "vec_id", "embedding", k = 10,
      planes = 2, dims = 64, tables = 4)
    val r = Similarity.recallAtK(lshQ, exact, 10)
    assert(r >= 0.6, s"quantized-vector LSH recall@10=$r < 0.6")
  }

  test("quantizedLshTopK: buckets from codes equal buckets from dequantized vectors; recall floor holds") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    // scale invariance: SRP keys over int8 codes == keys over codes*scale
    // in exact arithmetic; the dequantized path's per-element multiply
    // perturbs IEEE summation order, so a |projection| ~ 0 knife edge may
    // flip — divergence must stay at the knife-edge level, not structural
    val keys = emb.select(
      Similarity.srpBucketKeys(
        Similarity.quantizeInt8($"embedding").getField("codes"), 2, 4, 64).as("kc"),
      Similarity.srpBucketKeys(
        Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding")), 2, 4, 64).as("kd"))
    val divergent = keys.filter(not($"kc" <=> $"kd")).count()
    assert(divergent <= emb.count() / 100,
      s"$divergent rows diverge from dequantized bucketing — more than knife-edge")
    // CI recall floor on EXACTLY the registered x_sim_ann_quantized params
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10)
    val got = Similarity.quantizedLshTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10,
      planes = 2, dims = 64, tables = 4) // = SparkEntry x_sim_ann_quantized (measured 0.90)
    val r = Similarity.recallAtK(got, exact, 10)
    assert(r >= 0.6, s"shipped quantized-ANN params recall@10=$r < 0.6 — re-tune before shipping")
  }

  test("kmeansAssign is repartition-stable and covers every row") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = Similarity.kmeansAssign(emb.repartition(7), "vec_id", "embedding",
        k = 8, iters = 2)
      .as[(Long, Int)].collect().toMap
    val b = Similarity.kmeansAssign(emb.repartition(3).sortWithinPartitions(desc("vec_id")),
        "vec_id", "embedding", k = 8, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(a === b, "Lloyd rounds must not depend on partitioning or row order")
    assert(a.size === emb.count())
    assert(a.values.forall(c => c >= 0 && c < 8))
    assert(a.values.toSet.size > 1, "fixture sanity: more than one cluster in use")
  }

  test("semanticDedup keeps cluster minima and unpaired rows, drops the rest") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
      minCos = 0.4, k = 8, iters = 2)
    val survivors = Similarity.semanticDedup(emb, "vec_id", "embedding",
      minCos = 0.4, k = 8, iters = 2).select("vec_id").as[Long].collect().toSet
    val p = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(p.nonEmpty, "fixture sanity: some semantic near-dup pairs exist")
    // survivors + losers partition the corpus; every pair's min endpoint
    // can survive, and no pair has both endpoints surviving unless they
    // sit in different components (they don't, by construction of pairs)
    val losers = emb.select("vec_id").as[Long].collect().toSet -- survivors
    // direct CC cross-check: losers == exactly the non-minimum members
    val clusters = graft.operators.Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
      .as[(Long, Long)].collect()
    val expectedLosers = clusters.collect { case (id, cl) if id != cl => id }.toSet
    assert(losers === expectedLosers)
  }

  test("incremental bucket probe equals the cross pairs of the full self-join") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val index = Similarity.srpBucketIndex(emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", planes = 4, dims = 64, tables = 2)
    val probed = Similarity.incrementalEmbeddingCandidates(
      emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", index,
      planes = 4, dims = 64, tables = 2)
      .as[(Long, Long)].collect().toSet
    // ground truth: every cross-parity bucket collision of the full index
    val full = Similarity.srpBucketIndex(emb, "vec_id", "embedding",
      planes = 4, dims = 64, tables = 2)
    val expected = full.as("a").join(full.as("b"),
        $"a.tbl" === $"b.tbl" && $"a.bucket" === $"b.bucket" &&
          $"a.id" % 2 === 1 && $"b.id" % 2 === 0)
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture sanity: some cross-parity collisions exist")
    assert(probed === expected)
  }

  test("verified incremental probe equals the cross pairs of the full verified self-join") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 2 === 0)
    val index = Similarity.srpBucketIndex(corpus, "vec_id", "embedding",
      planes = 4, dims = 64, tables = 2)
    val probed = Similarity.incrementalEmbeddingNearDuplicates(
      emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding", index, corpus,
      minCos = 0.4, planes = 4, dims = 64, tables = 2)
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: full self-join near-dups, restricted to odd-even pairs
    val full = Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding",
      minCos = 0.4, planes = 4, dims = 64, tables = 2)
      .as[(Long, Long, Double)].collect()
    val expected = full.collect {
      case (a, b, c) if a % 2 == 1 && b % 2 == 0 => (a, b, c)
      case (a, b, c) if a % 2 == 0 && b % 2 == 1 => (b, a, c)
    }.toSet
    assert(expected.nonEmpty, "fixture sanity: some cross-parity verified pairs exist")
    assert(probed === expected)
  }

  test("autoPlanes scales bucket count with corpus size") {
    assert(Similarity.autoPlanes(1000, 1024) === 1)
    assert(Similarity.autoPlanes(1024 * 16, 1024) === 4)
    assert(Similarity.autoPlanes(100000000L, 1024) === 17)
  }

  test("CI recall floor: shipped lshTopK and ivfTopK params reach recall@10 >= 0.6 at sf0.01") {
    // The exact parameters SparkEntry registers for x_sim_ann_lsh / x_sim_ivf,
    // measured on the sf0.01 embeddings. This is the gate that fails when
    // someone degrades planes/tables/centroids/nprobe without re-measuring:
    // a silent parameter regression must not pass CI.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10)
    val lsh = Similarity.lshTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10,
      planes = 2, dims = 64, tables = 4) // = SparkEntry x_sim_ann_lsh (measured 0.90)
    val rLsh = Similarity.recallAtK(lsh, exact, 10)
    assert(rLsh >= 0.6, s"shipped LSH params recall@10=$rLsh < 0.6 — re-tune before shipping")
    val ivf = Similarity.ivfTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10,
      centroids = 16, nprobe = 8) // = SparkEntry x_sim_ivf (measured 0.70)
    val rIvf = Similarity.recallAtK(ivf, exact, 10)
    assert(rIvf >= 0.6, s"shipped IVF params recall@10=$rIvf < 0.6 — re-tune before shipping")
    // the Lloyd-refined coarse quantizer (x_sim_ivf_kmeans) buys recall
    // at the same probe cost — 0.88 measured vs the sample's 0.70; its
    // floor is higher so a silent fallback to the sample fails CI
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 16, iters = 2)
      .withColumn("nrm", Similarity.l2Norm(col("centroid")))
    val ivfKm = Similarity.ivfTopKWith(q, emb, "vec_id", "embedding", "vec_id", "embedding",
      Similarity.ivfAssignWith(emb, "vec_id", "embedding", cents), cents, k = 10, nprobe = 8)
    val rKm = Similarity.recallAtK(ivfKm, exact, 10)
    assert(rKm >= 0.75, s"Lloyd-refined IVF recall@10=$rKm < 0.75 — quantizer degraded")
  }

  test("pqEncode: codes bounded by the codebook, repartition-stable") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding",
      m = 4, codes = 8, iters = 2)
    val rows = enc.as[(Long, Seq[Int])].collect()
    assert(rows.length === 500)
    rows.foreach { case (id, cs) =>
      assert(cs.length === 4 && cs.forall(c => c >= 0 && c < 8), s"vec $id codes $cs")
    }
    val again = Similarity.pqEncode(emb.repartition(17), "vec_id", "embedding",
      m = 4, codes = 8, iters = 2)
      .as[(Long, Seq[Int])].collect()
    assert(rows.toSet === again.toSet)
  }

  test("pqTopK: shipped params reach recall@10 >= 0.6; re-ranked scores are exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10)
    val pq = Similarity.pqTopK(
      q, emb, "vec_id", "embedding", "vec_id", "embedding", k = 10,
      m = 16, codes = 16, iters = 2, probe = 40) // = SparkEntry x_sim_pq (measured 0.76)
    val r = Similarity.recallAtK(pq, exact, 10)
    assert(r >= 0.6, s"shipped PQ params recall@10=$r < 0.6 — re-tune before shipping")
    // every (query, corpus) pair the shortlist surfaced carries the same
    // exact cosine the brute-force scorer assigns it
    val mism = pq.drop("rank").as("p")
      .join(exact.drop("rank").as("e"),
        Seq("query_id", "corpus_id"))
      .filter($"p.cos" =!= $"e.cos").count()
    assert(mism === 0)
  }

  test("PQ kernels are bit-identical to the unrolled slice+dot spec form") {
    // the loop kernels (PqAdcTable / PqArgBest) replaced the unrolled
    // struct-array expressions after m=16 × codes=16 overflowed Janino's
    // 64 KB method limit; this pins kernel output to the spec form they
    // replaced, element-for-element, on real embedding data
    import graft.functions.VectorExpressions
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
    val d0 = 4
    val offset = 8
    // deterministic small codebook: 6 codes × d0 dims
    val cb: IndexedSeq[IndexedSeq[Double]] = (0 until 6).map(c =>
      (0 until d0).map(j => math.sin(c * 7 + j).toDouble * 0.5).toIndexedSeq)
    val flat = cb.flatten.toIndexedSeq
    val n2 = cb.map(v => v.foldLeft(0.0)((a, x) => a + x * x)).toIndexedSeq
    val specAdc = array(cb.map(cv =>
      Similarity.dot(slice(col("embedding"), offset + 1, d0), typedLit(cv))): _*)
    val specBest = array_max(array(cb.zipWithIndex.map { case (cv, i) =>
      struct((lit(2.0) * Similarity.dot(slice(col("embedding"), offset + 1, d0), typedLit(cv))
        - lit(n2(i))).as("sc"), lit(i).as("i"))
    }: _*)).getField("i")
    val got = emb.select(
      VectorExpressions.pqAdcTable(col("embedding"), flat, offset, d0).as("kt"),
      specAdc.as("st"),
      VectorExpressions.pqArgBest(col("embedding"), flat, n2, offset, d0).as("kb"),
      specBest.as("sb"))
    val bad = got.filter(not(col("kt") === col("st")) || col("kb") =!= col("sb")).count()
    assert(bad === 0)
    // interpreted eval path agrees with codegen (collect forces both shapes
    // via the local relation vs parquet scan plans above; re-check one row
    // explicitly through a driver-side literal frame)
    val one = Seq(Tuple1((0 until 16).map(i => i.toFloat / 16f))).toDF("embedding")
    val r = one.select(
      VectorExpressions.pqAdcTable(col("embedding"), flat, offset, d0).as("kt"),
      specAdc.as("st")).head()
    assert(r.getSeq[Double](0) === r.getSeq[Double](1))
    // non-finite components: an Inf in the window makes subspace scores a
    // mix of ±Inf and NaN (Inf − Inf); the kernel compares via
    // Double.compare — Spark's total order, NaN above every double — so it
    // must still pick the same code as the array_max(struct) spec form
    val weird = Seq(
      Tuple1((0 until 16).map(i => if (i == 9) Float.PositiveInfinity else i / 16f)),
      Tuple1((0 until 16).map(i => if (i == 10) Float.NaN else i / 16f)))
      .toDF("embedding")
    val w = weird.select(
      VectorExpressions.pqArgBest(col("embedding"), flat, n2, offset, d0).as("kb"),
      specBest.as("sb")).collect()
    w.foreach(row => assert(row.getInt(0) === row.getInt(1), row.toString))
  }

  test("composed IVF-PQ: parquet round-trip probe is row-identical; recall floor holds") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    // the three model artifacts persist once: centroid frame, residual
    // codebooks, coded postings (cell + codes + true norm per row)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", centroids = 16)
    cents.write.parquet(s"$dir/centroids")
    val cb = Similarity.ivfPqCodebook(emb, "vec_id", "embedding", cents,
      m = 16, codes = 32, iters = 2)
    cb.write.parquet(s"$dir/codebook")
    Similarity.ivfPqEncodeWith(emb, "vec_id", "embedding", cents, cb)
      .write.parquet(s"$dir/postings")
    val stored = Similarity.ivfPqTopKWith(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding",
      spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"), k = 10, nprobe = 10, probe = 80)
    val fresh = Similarity.ivfPqTopKWith(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding",
      Similarity.ivfPqEncodeWith(emb, "vec_id", "embedding", cents, cb), cents, cb,
      k = 10, nprobe = 10, probe = 80)
    assert(stored.as[(Long, Long, Double, Int)].collect().toSet ===
      fresh.as[(Long, Long, Double, Int)].collect().toSet)
    // postings carry one cell per row, codes bounded by the codebook
    val post = spark.read.parquet(s"$dir/postings")
    assert(post.count() === emb.count())
    assert(post.filter(col("cid") < 0 || col("cid") >= 16).count() === 0)
    assert(post.filter(exists(col("codes"), c => c < 0 || c >= 32)).count() === 0)
    // CI recall floor on EXACTLY the registered x_sim_ivfpq_index params
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding", 10)
    val recall = Similarity.recallAtK(stored, exact, 10)
    assert(recall >= 0.6, s"composed IVF-PQ recall@10 degraded to $recall")
  }

  test("persisted ANN index: parquet round-trip probe is row-identical to the fresh path") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = java.nio.file.Files.createTempDirectory("ann_index").toString
    // --- PQ: codebook + code table written once, probed from storage
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8, codes = 8, iters = 1)
    cb.write.parquet(s"$dir/pq_codebook")
    Similarity.pqEncodeWith(emb, "vec_id", "embedding", cb)
      .write.parquet(s"$dir/pq_codes")
    val storedPq = Similarity.pqTopKWith(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding",
      spark.read.parquet(s"$dir/pq_codes"), spark.read.parquet(s"$dir/pq_codebook"),
      k = 10, probe = 40)
    val freshPq = Similarity.pqTopK(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding", k = 10, m = 8, codes = 8, iters = 1, probe = 40)
    assert(storedPq.as[(Long, Long, Double, Int)].collect().toSet ===
      freshPq.as[(Long, Long, Double, Int)].collect().toSet)
    // encoding with the stored codebook = encoding inside fresh training
    val freshCodes = Similarity.pqEncode(emb, "vec_id", "embedding", m = 8, codes = 8, iters = 1)
      .select(col("vec_id"), col("codes"))
    val storedCodes = spark.read.parquet(s"$dir/pq_codes")
    assert(storedCodes.as[(Long, Seq[Int])].collect().toSet ===
      freshCodes.as[(Long, Seq[Int])].collect().toSet)
    // --- IVF: centroid frame + inverted file written once, probed from storage
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", centroids = 16)
    cents.write.parquet(s"$dir/ivf_centroids")
    Similarity.ivfAssignWith(emb, "vec_id", "embedding", cents)
      .write.parquet(s"$dir/ivf_assigned")
    val storedIvf = Similarity.ivfTopKWith(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding",
      spark.read.parquet(s"$dir/ivf_assigned"), spark.read.parquet(s"$dir/ivf_centroids"),
      k = 10, nprobe = 8)
    val freshIvf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
      "vec_id", "embedding", k = 10, centroids = 16, nprobe = 8)
    assert(storedIvf.as[(Long, Long, Double, Int)].collect().toSet ===
      freshIvf.as[(Long, Long, Double, Int)].collect().toSet)
    // --- k-means: centroid frame written once, assignment from storage
    Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)
      .write.parquet(s"$dir/km_centroids")
    val storedKm = Similarity.kmeansAssignWith(emb, "vec_id", "embedding",
      spark.read.parquet(s"$dir/km_centroids"))
    val freshKm = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8, iters = 2)
    assert(storedKm.as[(Long, Int)].collect().toSet ===
      freshKm.as[(Long, Int)].collect().toSet)
  }

  test("takedown over persisted ANN artifacts: deleted postings equal re-encode, probes agree") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ann_takedown").toString
    val removed = emb.filter(col("vec_id") % 9 === 2).select("vec_id")
    val survivors = emb.filter(col("vec_id") % 9 =!= 2)
    val queries = survivors.filter(col("vec_id") < 5)

    // PQ: the code table loses exactly the removed ids' rows; the codebook
    // (a model synopsis with no per-document rows) stays — so the deleted
    // table must equal re-encoding the survivors with the SAME codebook
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8, codes = 8, iters = 1)
    cb.write.parquet(s"$dir/pq_codebook")
    Similarity.pqEncodeWith(emb, "vec_id", "embedding", cb).write.parquet(s"$dir/pq_codes")
    val nPq = graft.sources.Store.deleteFromStore(spark, s"$dir/pq_codes", removed, "vec_id", countDeleted = true)
    assert(nPq === Some(removed.count()))
    val codesGot = spark.read.parquet(s"$dir/pq_codes").as[(Long, Seq[Int])].collect().toSet
    val codesWant = Similarity.pqEncodeWith(survivors, "vec_id", "embedding", cb)
      .as[(Long, Seq[Int])].collect().toSet
    assert(codesGot === codesWant)
    val probeGot = Similarity.pqTopKWith(queries, survivors, "vec_id", "embedding",
      "vec_id", "embedding", spark.read.parquet(s"$dir/pq_codes"), cb, k = 10, probe = 40)
    val probeWant = Similarity.pqTopKWith(queries, survivors, "vec_id", "embedding",
      "vec_id", "embedding", Similarity.pqEncodeWith(survivors, "vec_id", "embedding", cb),
      cb, k = 10, probe = 40)
    assert(probeGot.as[(Long, Long, Double, Int)].collect().toSet ===
      probeWant.as[(Long, Long, Double, Int)].collect().toSet)

    // IVF: inverted file loses the ids' postings, centroid frame stays
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", centroids = 16)
    Similarity.ivfAssignWith(emb, "vec_id", "embedding", cents)
      .write.parquet(s"$dir/ivf_assigned")
    val nIvf = graft.sources.Store.deleteFromStore(spark, s"$dir/ivf_assigned", removed, "vec_id", countDeleted = true)
    assert(nIvf === Some(removed.count()))
    val postGot = spark.read.parquet(s"$dir/ivf_assigned").as[(Long, Int)].collect().toSet
    val postWant = Similarity.ivfAssignWith(survivors, "vec_id", "embedding", cents)
      .as[(Long, Int)].collect().toSet
    assert(postGot === postWant)
    val ivfGot = Similarity.ivfTopKWith(queries, survivors, "vec_id", "embedding",
      "vec_id", "embedding", spark.read.parquet(s"$dir/ivf_assigned"), cents, k = 10, nprobe = 8)
    val ivfWant = Similarity.ivfTopKWith(queries, survivors, "vec_id", "embedding",
      "vec_id", "embedding", Similarity.ivfAssignWith(survivors, "vec_id", "embedding", cents),
      cents, k = 10, nprobe = 8)
    assert(ivfGot.as[(Long, Long, Double, Int)].collect().toSet ===
      ivfWant.as[(Long, Long, Double, Int)].collect().toSet)
  }

  test("recallAtK: exact-vs-exact is 1.0; LSH recall is measurable and sane") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.limit(5)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", "vec_id", "embedding", 10)
    assert(Similarity.recallAtK(exact, exact, 10) === 1.0)
    val approx = Similarity.lshTopK(queries, emb, "vec_id", "embedding", "vec_id", "embedding", 10,
      planes = 4, dims = 64, tables = 4)
    val r = Similarity.recallAtK(approx, exact, 10)
    assert(r > 0.0 && r <= 1.0, s"recall=$r")
    // disjoint results -> recall 0, no crash on the empty-overlap sum
    import spark.implicits._
    val fakeA = Seq((999L, 9999L, 1.0, 1)).toDF("query_id", "corpus_id", "cos", "rank")
    assert(Similarity.recallAtK(fakeA, exact, 10) === 0.0)
  }
}
