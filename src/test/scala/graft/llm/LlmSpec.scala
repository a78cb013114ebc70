package graft.llm

import graft.SparkSuite
import graft.rel.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks for the §2l operators that have no DuckDB oracle
  * (hash functions, typed aggs, binary decode): each is pinned against
  * either an exact re-computation or a structural invariant.
  */
class LlmSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  test("ivfPqTrainLocal is bit-equal to the distributed ivfPqTrain: " +
    "same centroids, same codebook, same collected query vectors") {
    import org.apache.spark.sql.functions._
    val emb = graft.rel.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 250).select("vec_id", "embedding")
    val (distModel, rbase) = SimilarityQueries.ivfPqTrain(spark, emb)
    val (localModel, rows) = SimilarityQueries.ivfPqTrainLocal(emb)
    assert(localModel.cents.map(_.toSeq).toSeq ===
      distModel.cents.map(_.toSeq).toSeq, "coarse centroids diverged")
    assert(localModel.cb.toSeq === distModel.cb.toSeq,
      "PQ codebook diverged")
    // the returned sample rows match the distributed residual base's
    // quantized vectors (the scenario reads its query vector here)
    val want = rbase.select("vec_id", "q").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toMap
    assert(rows.length === want.size)
    rows.foreach { case (id, q) => assert(q.toSeq === want(id)) }
  }

  test("shingleSets emits no shingles (and no ANSI error) for docs with" +
    " fewer than 3 tokens") {
    import spark.implicits._
    val docs = Seq((1L, "one two"), (2L, "solo"), (3L, ""),
      (4L, "a b c d")).toDF("doc_id", "text")
    val out = DedupQueries.shingleSets(docs).collect()
    assert(out.forall(_.getLong(0) == 4L),
      "short docs must contribute zero shingles")
    assert(out.length == 2) // "a b c" and "b c d"
  }

  test("substring-duplication coverage: hand-computed interval unions, " +
    "within-doc repeats, sub-K docs, identical docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),                      // shares "a b c d e" w/ 2
      (2L, "x y a b c d e z"),
      (3L, "m n o p q r"),                          // identical to 4
      (4L, "m n o p q r"),
      (5L, "s t u v"),                              // < K tokens
      (6L, "c1 c2 c3 c4 c5 z1 z2 c1 c2 c3 c4 c5")   // repeats ITSELF
    ).toDF("doc_id", "text")
    val got = DedupQueries.substringCoverageOver(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((8L, 5L, 6250L)))   // [0,5) of 8
    assert(got(2L) == ((8L, 5L, 6250L)))   // [2,7) of 8
    assert(got(3L) == ((6L, 6L, 10000L)))  // [0,5)∪[1,6): union merges
    assert(got(4L) == ((6L, 6L, 10000L)))
    assert(got(5L) == ((4L, 0L, 0L)))      // no 5-gram at all
    // within-doc: [0,5)∪[7,12) = 10 of 12; (10*10000 + 6) div 12
    assert(got(6L) == ((12L, 10L, 8333L)))
  }

  test("substring rewrite keeps only the globally-first occurrence of " +
    "each duplicated window and rebuilds the text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e z"),
      (3L, "m n o p q r"),
      (4L, "m n o p q r"),
      (5L, "s t u v"),
      (6L, "c1 c2 c3 c4 c5 z1 z2 c1 c2 c3 c4 c5")
    ).toDF("doc_id", "text")
    val got = DedupQueries.substringRewriteOver(docs).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("a b c d e f g h", 0L))) // first occurrence: kept
    assert(got(2L) == (("x y z", 5L)))           // later: span cut
    assert(got(3L) == (("m n o p q r", 0L)))     // doc 3 < doc 4: kept
    assert(got(4L) == (("", 6L)))                // identical twin: emptied
    assert(got(5L) == (("s t u v", 0L)))         // sub-K: untouched
    assert(got(6L) == (("c1 c2 c3 c4 c5 z1 z2", 5L))) // self-repeat cut
  }

  test("sqrt-temperature mix-interleave on a SKEWED corpus: derived " +
    "factors exceed 1 and every full round carries the target mix") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed slice: per-source token totals 1600 / 400 / 100
    // => sqrt-temperature factors 1 / 2 / 4
    val docs = (
      (1 to 160).map(i => (i.toLong, "big", Seq.fill(10)("w").mkString(" "))) ++
      (1 to 40).map(i => (1000L + i, "mid", Seq.fill(10)("w").mkString(" "))) ++
      (1 to 10).map(i => (2000L + i, "small", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val factors = PipelineQueries.sqrtTemperatureFactors(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(factors === Map("big" -> 1L, "mid" -> 2L, "small" -> 4L),
      s"derived factors off: $factors")
    val epoch = PipelineQueries.pacedInterleave(
      docs.join(broadcast(PipelineQueries.sqrtTemperatureFactors(docs)),
        Seq("source")))
      .collect()
    // epoch size: every doc appears factor(source) times
    assert(epoch.length === 160 * 1 + 40 * 2 + 10 * 4)
    // proportional pacing: while a source still has items, each round
    // carries exactly `factor` of them — the mix holds in every prefix
    val byRound = epoch.groupBy(r => (r.getLong(3), r.getString(1)))
      .map { case ((round, src), rows) => (round, src, rows.length) }
    val rounds = Map("big" -> 160L, "mid" -> 40L, "small" -> 10L)
    byRound.foreach { case (round, src, n) =>
      assert(round < rounds(src), s"$src emitted past its last round")
      assert(n === factors(src).toInt,
        s"round $round of $src carried $n items, want ${factors(src)}")
    }
  }

  test("cluster resolution: the distributed min-label fixpoint and the " +
    "driver union-find produce identical clusters") {
    import org.apache.spark.sql.functions._
    val pairs = graft.llm.DedupQueries
      .jaccardPairs(graft.llm.DedupQueries.shingleSets(
        graft.rel.Tables.documents(spark, dir)), "sh")
      .filter(col("jac") >= 0.5)
      .select(col("id_a"), col("id_b"))
    val local = PipelineQueries.clusterPairs(spark, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val dist = PipelineQueries
      .clusterPairs(spark, pairs, localThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(local.nonEmpty, "corpus must contain dup pairs")
    assert(local === dist,
      "adaptive local path must equal the distributed fixpoint")
    // conf-forced routing: spark.graft.dedup.clusterLocalThreshold=0
    // must push the DEFAULT call (no explicit threshold) onto the
    // distributed branch and produce the same clusters — the knob the
    // sf1 scaling smoke turns to exercise the 100 TB path
    spark.conf.set("spark.graft.dedup.clusterLocalThreshold", "0")
    try {
      val confForced = PipelineQueries.clusterPairs(spark, pairs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(confForced === local,
        "conf-forced distributed branch must equal the local path")
    } finally
      spark.conf.unset("spark.graft.dedup.clusterLocalThreshold")
    // adversarial DIAMETER: a 200-link dup CHAIN (the spam shape a
    // 100 TB corpus contains) must resolve to ONE cluster on the
    // distributed branch — pointer jumping converges in O(log d)
    // rounds where plain one-hop propagation would exhaust the round
    // cap and (before round 15) silently emit wrong labels
    val chain = spark.range(200)
      .selectExpr("id AS id_a", "id + 1 AS id_b")
    val chained = PipelineQueries
      .clusterPairs(spark, chain, localThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(chained.length === 201)
    assert(chained.forall(_._2 === 0L),
      "every chain node must resolve to the component min (0)")
    assert(chained.count(_._3) === 1, "exactly one keeper")
    // cluster invariants: labels are component minima, reps are members
    val byCluster = local.groupBy(_._2)
    for ((cid, members) <- byCluster) {
      assert(members.map(_._1).min === cid,
        "cluster id must be the component's min doc_id")
      assert(members.count(_._3) === 1, "exactly one keeper per cluster")
    }
  }

  test("approx percentiles land at the right empirical rank (|cdf - q| " +
    "<= 0.1) for every language and quantile") {
    import org.apache.spark.sql.functions.col
    val qs = Seq(0.25, 0.50, 0.75, 0.95)
    val byLang = graft.rel.Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val approx = run("q_pipe_quantiles_approx").collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(approx.keySet === byLang.keySet)
    for ((lang, vals) <- approx; (v, q) <- vals.zip(qs)) {
      val data = byLang(lang)
      // approx_percentile returns an ACTUAL corpus value, so judge it
      // by rank, not by distance to the interpolated exact percentile
      // (tiny sf0.001 groups make value-distance meaningless): the
      // fraction of rows <= v must sit within 0.1 of the requested
      // quantile (group granularity ~1/20 + sketch error at 10000).
      assert(data.contains(v), s"$lang q=$q: $v is not a corpus value")
      val cdf = data.count(_ <= v).toDouble / data.size
      assert(math.abs(cdf - q) <= 0.1,
        s"$lang q=$q: approx value $v has empirical rank $cdf")
    }
  }

  test("minhash-LSH pairs are a subset of exact ngram-jaccard pairs" +
    " and recall all pairs with jaccard >= 0.8") {
    val exact = run("q_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = run("q_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty, "LSH found no near-dup pairs")
    // verified candidates can never contain a pair the exact query lacks
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"false positives: ${lsh.keySet -- exact.keySet}")
    val strong = exact.filter(_._2 >= 0.8).keySet
    assert(strong.subsetOf(lsh.keySet),
      s"missed strong pairs: ${strong -- lsh.keySet}")
    // verified jaccard must agree exactly with the exact pipeline
    lsh.foreach { case (k, j) => assert(j == exact(k), s"jaccard mismatch $k") }
  }

  test("boundedCheckpoint picks the storage level by the optimizer " +
    "size estimate: small frames stay MEMORY_AND_DISK, past the conf " +
    "threshold they go DISK_ONLY (the 100 TB bounded-memory contract)") {
    import org.apache.spark.storage.StorageLevel
    val key = "spark.graft.dedup.memCheckpointMaxBytes"
    def levelOf(df: org.apache.spark.sql.DataFrame): StorageLevel = {
      val ck = DedupQueries.boundedCheckpoint(df)
      val lvl = ck.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getStorageLevel
      }.get
      ck.unpersist(true)
      lvl
    }
    val small = spark.range(100).toDF("doc_id")
    assert(levelOf(small) == StorageLevel.MEMORY_AND_DISK,
      "a tiny frame must keep the fast level")
    spark.conf.set(key, "0")
    try assert(levelOf(small) == StorageLevel.DISK_ONLY,
      "past the threshold the level must bound executor memory")
    finally spark.conf.unset(key)
  }

  test("shingle materialization never registers with the shared cache " +
    "manager (no-.cache() guard) and its localCheckpoint blocks are " +
    "releasable through getPersistentRDDs") {
    Seq("q_dedup_minhash_lsh", "q_dedup_minhash_md5", "q_dedup_containment",
      "q_dedup_ngram_jaccard").foreach { q =>
      run(q).write.format("noop").mode("overwrite").save()
      // guards against reintroducing .cache()/persist-via-cacheManager;
      // localCheckpoint blocks live in the BlockManager and do NOT show
      // up here, so this alone says nothing about block release
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$q left a cached plan in the shared cache manager")
    }
    // the checkpointed shingle RDDs surface in getPersistentRDDs until
    // the ContextCleaner collects them (GC-driven); pin the explicit
    // release path Bench uses between queries
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected lingering localCheckpoint RDDs before explicit release")
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "blocking unpersist must drain all checkpoint blocks")
  }

  test("simhash kernel is bit-identical to the relational formulation") {
    val kernel = run("q_dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val relational = LlmSpec.simhashRelational(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(kernel.sameElements(relational))
  }

  test("simhash: identical token sets hash identically;" +
    " near-dup pairs are hamming-close") {
    val sim = run("q_dedup_simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uni = run("q_dedup_unigram_jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val identical = uni.filter(_._2 == 1.0)
    assert(identical.nonEmpty, "fixture lost its jaccard-1.0 pairs")
    identical.foreach { case ((a, b), _) =>
      assert(sim(a) == sim(b), s"identical sets, different simhash: $a $b")
    }
    uni.filter(_._2 >= 0.95).foreach { case ((a, b), _) =>
      val ham = java.lang.Long.bitCount(sim(a) ^ sim(b))
      assert(ham <= 16, s"jaccard>=0.95 pair ($a,$b) at hamming $ham")
    }
  }

  test("md5 simhash twin agrees with the xxhash64 kernel on flagged " +
    "pairs: identical token sets fingerprint equal under BOTH hash " +
    "families; jaccard>=0.95 near-dups are hamming-close under both") {
    val kernel = run("q_dedup_simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twin = run("q_dedup_simhash_md5").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twin.keySet == kernel.keySet, "twin must cover every doc")
    // 60-bit fingerprints stay in nonnegative signed-BIGINT space
    assert(twin.values.forall(v => v >= 0L && (v >> 60) == 0L))
    val uni = run("q_dedup_unigram_jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val identical = uni.filter(_._2 == 1.0)
    assert(identical.nonEmpty, "fixture lost its jaccard-1.0 pairs")
    identical.foreach { case ((a, b), _) =>
      assert(twin(a) == twin(b) && kernel(a) == kernel(b),
        s"identical sets must agree under both hash families: $a $b")
    }
    uni.filter(_._2 >= 0.95).foreach { case ((a, b), _) =>
      val ham = java.lang.Long.bitCount(twin(a) ^ twin(b))
      assert(ham <= 15, // 16/64-bit kernel bound scaled to 60 bits
        s"jaccard>=0.95 pair ($a,$b) at md5-twin hamming $ham")
    }
  }

  test("IVF top-k: 10 rows, descending cosine, each cosine equal to the" +
    " brute-force value for that vector") {
    val ivf = run("q_sim_topk_ivf").collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(ivf.length == 10)
    assert(ivf.map(-_._2).sameElements(ivf.map(-_._2).sorted), "not descending")
    // recompute exact cosine vs vec 0 for the returned ids
    val e = graft.rel.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q = e(0L)
    ivf.foreach { case (id, c) =>
      assert(math.abs(c - cos(e(id), q)) < 1e-3, s"cosine off for vec $id")
    }
  }

  test("IVF kNN join route: exact cosines for every returned pair, " +
    "high recall of the exact top-3 graph") {
    import org.apache.spark.sql.functions._
    import graft.functions.vec
    val e = graft.rel.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", vec.norm(col("v")))
    val exact = SimilarityQueries.knnJoinExact(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityQueries.knnJoinIvf(e)
    // every IVF cosine must be the exact cosine of that pair (the IVF
    // route prunes candidates, it never approximates the math)
    val mism = ivf
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(e.select(col("vec_id").as("nn_id"), col("v").as("w"),
        col("nrm").as("wn")), "nn_id")
      .filter(round(vec.cosine(col("v"), col("w"), col("nrm"),
        col("wn")), 4) =!= col("cos_sim"))
      .count()
    assert(mism == 0, s"$mism IVF pairs with non-exact cosines")
    val got = ivf.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@3 vs exact = $recall")
  }

  test("sign-LSH top-k: all results share the query's bucket and carry" +
    " exact cosines") {
    val lsh = run("q_sim_topk_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty && lsh.length <= 10)
    assert(lsh.map(_._2).distinct.length == 1, "results from multiple buckets")
    assert(lsh.map(-_._3).sameElements(lsh.map(-_._3).sorted))
    val e = graft.rel.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    lsh.foreach { case (id, _, c) =>
      assert(math.abs(c - cos(e(id), e(0L))) < 1e-3, s"cosine off for vec $id")
    }
  }

  test("typed Aggregator centroid norm matches the relational centroid") {
    val rel = run("q_sim_centroid").collect()
      .groupBy(_.getInt(0))
      .map { case (label, rows) =>
        label -> math.sqrt(rows.map(r => {
          val v = r.getDouble(2); v * v
        }).sum)
      }
    val udafNorms = run("q_sim_centroid_udaf").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(udafNorms.keySet == rel.keySet)
    rel.foreach { case (label, n) =>
      assert(math.abs(udafNorms(label) - n) < 1e-3, s"label $label: $n vs ${udafNorms(label)}")
    }
  }

  test("fingerprint: deterministic across runs, no collisions on corpus") {
    val a = run("q_text_fingerprint").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = run("q_text_fingerprint").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b), "fingerprints not deterministic")
    assert(a.map(_._2).distinct.length == a.length,
      "distinct texts collided (500 docs, 1e9 modulus)")
  }

  test("media decode stub: pinned values and partition plumbing") {
    val bytes = "abcd".getBytes("UTF-8")
    val (w, h, mean, max) = Media.decodeStub(bytes)
    assert(w == 64 + 4 && h == 64 + ('a' & 0x3f))
    assert(mean == ('a' + 'b' + 'c' + 'd').toDouble / 4 && max == 'd'.toInt)
    val out = run("q_mm_decode").collect()
    assert(out.length == 20, "one row per source expected")
    assert(out.map(_.getString(0)).sameElements(
      out.map(_.getString(0)).sorted))
  }

  test("media decode: a real PNG goes through javax.imageio with true " +
    "dimensions and pixel stats; non-images fall back to the stub") {
    import spark.implicits._
    // 10x20 gray ramp PNG, authored in memory with the same JDK codec
    val img = new java.awt.image.BufferedImage(10, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 10) {
      val g = (x + y) * 8 % 256
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val (w, h, mean, max) = Media.decode(png)
    assert(w == 10 && h == 20, "decoded dimensions must be the raster's")
    val expected = (for (y <- 0 until 20; x <- 0 until 10)
      yield (x + y) * 8 % 256).map(_.toDouble)
    assert(math.abs(mean - expected.sum / expected.length) < 1e-9)
    assert(max == expected.max.toInt)
    // the distributed path uses the same decode
    val ds = spark.createDataset(Seq(
      Media.MediaRecord(7L, "png-src", "img/png", png)))
    val feat = Media.decodeFeatures(ds).collect().head
    assert(feat.width == 10 && feat.height == 20 && feat.max_byte == max)
    // non-image payloads keep the deterministic stub values
    assert(Media.decode("abcd".getBytes("UTF-8")) ===
      Media.decodeStub("abcd".getBytes("UTF-8")))
  }

  test("media decode: an authored MJPEG-AVI demuxes and decodes for " +
    "real (encode→mux→demux→decode round-trip, status video-mjpeg); " +
    "non-AVI payloads emit NO video frames and stubs stay labeled") {
    import spark.implicits._
    // three 8x8 gray rasters with distinct, known max levels; JPEG is
    // lossy but a CONSTANT raster survives exactly (one DC term)
    val levels = Seq(40, 120, 200)
    val frames = levels.map(l =>
      Media.encodeJpegGray(Array.fill[Byte](64)(l.toByte), 8, 8))
    val avi = Media.muxMjpegAvi(frames, 8, 8)
    // demux returns the exact JPEG payloads that went in
    val demuxed = Media.demuxMjpegAvi(avi).get
    assert(demuxed.size == 3)
    assert(demuxed.zip(frames).forall { case (a, b) =>
      java.util.Arrays.equals(a, b) })
    // decode: dims from frame 0; mean/max must equal what the image
    // decoder says per frame (JPEG DC quantization may shift constant
    // levels a little, so the contract is video ≡ per-frame image
    // decode, not exact input levels)
    val perImg = frames.map(f => Media.decodeImage(f).get)
    assert(perImg.map(_._4) == perImg.map(_._4).sorted &&
      perImg.map(_._4).distinct.size == 3,
      "authored frames must stay distinct and ordered through JPEG")
    val (w, h, mean, max, status) = Media.decodeWithStatus(avi)
    assert(status == "video-mjpeg")
    assert(w == 8 && h == 8)
    assert(max == perImg.map(_._4).max &&
      math.abs(mean - perImg.map(_._3).sum / 3) < 1e-9)
    // distributed per-frame features agree, stride honored
    val ds = spark.createDataset(Seq(
      Media.MediaRecord(9L, "avi-src", "video/x-mjpeg-avi", avi)))
    val perFrame = Media.videoFrames(ds, stride = 1).collect()
      .sortBy(_.frame_idx)
    assert(perFrame.map(_.max_gray).toSeq == perImg.map(_._4))
    assert(Media.videoFrames(ds, stride = 2).collect()
      .map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    // the features row is labeled video, never stub
    val feat = Media.decodeFeatures(ds).collect().head
    assert(feat.decode_status == "video-mjpeg" && feat.width == 8)
    // text payloads: no video frames, stub stays labeled 'stub'
    val txt = spark.createDataset(Seq(Media.MediaRecord(10L, "t", "x",
      "just text".getBytes("UTF-8"))))
    assert(Media.videoFrames(txt, 1).collect().isEmpty)
    assert(Media.decodeFeatures(txt).collect().head.decode_status
      == "stub")
    // a WAV (also RIFF) must still route to audio, not video
    assert(Media.demuxMjpegAvi(
      "RIFFxxxxWAVEdata".getBytes("US-ASCII")).isEmpty)
    // deeply nested LIST headers (crafted/corrupt) degrade instead of
    // overflowing the stack: ~1MB of 12-byte nested LIST shells
    val depth = 80000
    val crafted = new java.io.ByteArrayOutputStream()
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    crafted.write("RIFF".getBytes("US-ASCII"))
    crafted.write(le32(4 + depth * 12))
    crafted.write("AVI ".getBytes("US-ASCII"))
    for (i <- depth to 1 by -1) {
      crafted.write("LIST".getBytes("US-ASCII"))
      crafted.write(le32(4 + (i - 1) * 12))
      crafted.write("rec ".getBytes("US-ASCII"))
    }
    assert(Media.demuxMjpegAvi(crafted.toByteArray).get.isEmpty,
      "nested-LIST bomb must demux to zero frames, not throw")
    // the q_mm_video pipeline labels every synthetic AVI row as a
    // real video decode (the no-stub output contract)
    val vidStatuses = run("q_mm_video").select("decode_status")
      .distinct().collect().map(_.getString(0)).toSeq
    assert(vidStatuses == Seq("video-mjpeg"),
      s"q_mm_video must be all real decodes, got $vidStatuses")
  }

  test("media decode: a real PCM WAV goes through javax.sound.sampled " +
    "with true rate/channels and sample stats; text still stubs") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    // 100 frames of stereo 8-bit PCM at 8 kHz, authored with the same
    // JDK codec: samples are a deterministic ramp
    val pcm = Array.tabulate[Byte](200)(i => ((i * 3) % 256).toByte)
    val fmt = new AudioFormat(8000f, 8, 2, false, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 100),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val (rate, channels, mean, max) = Media.decode(wav)
    assert(rate == 8000 && channels == 2,
      "decoded format must be the authored one")
    val amps = pcm.map(_ & 0xff)
    assert(math.abs(mean - amps.sum.toDouble / amps.length) < 1e-9)
    assert(max == amps.max)
    // the distributed path uses the same decode
    import spark.implicits._
    val feat = Media.decodeFeatures(spark.createDataset(Seq(
      Media.MediaRecord(8L, "wav-src", "audio/wav", wav)))).collect().head
    assert(feat.width == 8000 && feat.height == 2 && feat.max_byte == max)
    // non-media payloads keep the deterministic stub values
    assert(Media.decode("plain text".getBytes("UTF-8")) ===
      Media.decodeStub("plain text".getBytes("UTF-8")))
  }

  test("audio features: windowed energy / peak / zero-crossings are " +
    "exact on an authored WAV; text payloads take the stub-PCM path " +
    "and the distributed pass equals the driver-side math") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    // 256 mono 8-bit samples: 128 quiet (ramp around 128) then 128
    // loud (square wave) — the peak window is provably the loud half
    val pcm = Array.tabulate[Byte](256) { i =>
      if (i < 128) (120 + (i % 16)).toByte
      else if (i % 2 == 0) 28.toByte else 228.toByte
    }
    val fmt = new AudioFormat(8000f, 8, 1, false, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 256),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val samples = pcm.map(_ & 0xff)
    // reference math, independently in the test
    val win = 64
    def energy(w: Int) = (w * win until (w + 1) * win)
      .map(i => { val d = samples(i) - 128L; d * d }).sum
    val energies = (0 until 4).map(energy)
    val total = energies.sum
    val meanMilli = (1000L * total + 128) / 256
    val peakW = energies.indexOf(energies.max)
    val crossings = (1 until 256).count(i =>
      (samples(i - 1) - 128 >= 0) != (samples(i) - 128 >= 0))
    val zcrMilli = (1000L * crossings + 127) / 255
    val got = Media.audioFeatures(Media.pcmSamples(wav), win)
    assert(got === ((4L, meanMilli, peakW, energies.max, zcrMilli)))
    assert(peakW >= 2, "the loud square-wave half must hold the peak")
    // distributed pass = same math; stub path deterministic for text
    import spark.implicits._
    val row = Media.audioFeat(spark.createDataset(Seq(
      Media.MediaRecord(9L, "wav-src", "audio/wav", wav))), win)
      .collect().head
    assert((row.n_windows, row.mean_energy_milli, row.peak_window,
      row.peak_energy_milli, row.zcr_milli) ===
      ((4L, meanMilli, peakW, energies.max, zcrMilli)))
    val txt = "some plain text payload, long enough for one window " +
      "of sixty-four bytes at least"
    assert(Media.audioFeatures(Media.pcmSamples(txt.getBytes("UTF-8")), win)
      === Media.audioFeatures(txt.getBytes("UTF-8").map(_ & 0xff), win))
    // clips shorter than one window report zeros, not a crash
    assert(Media.audioFeatures(Array(1, 2, 3), win) ===
      ((0L, 0L, -1, 0L, 0L)))
  }

  test("media resize: nearest-neighbor thumbnail samples the real " +
    "raster for a PNG and the deterministic stub raster for text") {
    // the SAME 10x20 gray ramp as the decode test, resized to 4x4 —
    // nearest-neighbor grays are exactly computable
    val img = new java.awt.image.BufferedImage(10, 20,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 10) {
      val g = (x + y) * 8 % 256
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val thumb = Media.resizeBytes(bos.toByteArray, 4, 4)
    val want = for (y <- 0 until 4; x <- 0 until 4)
      yield ((x * 10 / 4 + y * 20 / 4) * 8 % 256).toByte
    assert(thumb.toSeq == want,
      "PNG thumbnail must sample the decoded raster nearest-neighbor")
    // stub path: text payload resizes via the decodeStub raster shape
    val txt = "abcd".getBytes("UTF-8")
    val n = txt.length
    val w = 64 + (n % 512); val h = 64 + (txt(0) & 0x3f)
    val wantStub = for (y <- 0 until 4; x <- 0 until 4)
      yield txt(((y * h / 4) * w + (x * w / 4)) % n)
    assert(Media.resizeBytes(txt, 4, 4).toSeq == wantStub)
    // distributed path carries thumbnail + mean through mapPartitions
    import spark.implicits._
    val t = Media.resize(spark.createDataset(Seq(
      Media.MediaRecord(9L, "png-src", "img/png", bos.toByteArray))),
      4, 4).collect().head
    assert(t.thumb.toSeq == want && t.tw == 4 && t.th == 4)
    assert(math.abs(t.mean_byte -
      want.map(_ & 0xff).sum.toDouble / want.length) < 1e-9)
  }

  test("frame sampling: counts follow ceil arithmetic, frames cover payload") {
    import spark.implicits._
    val rec = Media.MediaRecord(1L, "s", "img/fake", Array.range(0, 37).map(_.toByte))
    val ds = spark.createDataset(Seq(rec))
    val all = Media.sampleFrames(ds, 16, 1).collect().sortBy(_.frame_idx)
    assert(all.length == 3) // ceil(37/16)
    assert(all.map(_.frame.length).sameElements(Seq(16, 16, 5)))
    assert(all.flatMap(_.frame).sameElements(rec.media))
    val sampled = Media.sampleFrames(ds, 16, 4).collect()
    assert(sampled.length == 1 && sampled.head.frame_idx == 0)
  }

  test("BPE train: Spark replace applies merges greedily left-to-right " +
    "on symbol runs (the DuckDB scan order), hand-computed 3 rounds") {
    import spark.implicits._
    // The run case that breaks single-delimiter encodings: b b b b must
    // merge to bb bb, each pattern side leaving one '|' unconsumed.
    val run = spark.sql(
      "SELECT replace('||b||b||b||b||', '|b||b|', '|bb|') AS r")
      .head().getString(0)
    assert(run == "||bb||bb||")
    // low x2, lower x1, bbbb x1. Pair stats count every adjacent
    // occurrence (pre-application, overlapping included), so (b,b) = 3
    // ties with (l,o) = 3 and (o,w) = 3 and wins on the (l, r) tiebreak.
    // Round 2: bbbb is now bb|bb so (bb,bb) = 1; (l,o) = 3 wins.
    // Round 3: (lo,w) = 3 wins.
    val docs = Seq((1L, "low low lower"), (2L, "bbbb"))
      .toDF("doc_id", "text")
    val got = TextQueries.bpeTrainOver(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "b", "b", "bb", 3L),
      (2, "l", "o", "lo", 3L),
      (3, "lo", "w", "low", 3L)))
  }

  test("BPE apply: per-source symbol volumes under the trained merges, " +
    "hand-computed") {
    import spark.implicits._
    // merges (from the train test): bb, lo, low. Final reps:
    // low = 1 symbol, lower = low|e|r = 3, bbbb = bb|bb = 2.
    val docs = Seq((1L, "low low lower", "s1"), (2L, "bbbb", "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.llm.TextQueries.bpeApplyOver(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      ("s1", 3L, 11L, 5L, 5455L),  // (10000*6 + 5) div 11
      ("s2", 1L, 4L, 2L, 5000L)))  // (10000*2 + 2) div 4
  }

  test("fuzzy dedup: levenshtein-verified pairs need >= 2 shared " +
    "trigrams; hand-computed distance and half-up sim_bp") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),   // 25 chars
      (2L, "the quick brown fox jumped"),  // 26 chars, lev 2 from doc 1
      (3L, "z1 z2 the quick brown z3 z4")  // 1 shared trigram: excluded
    ).toDF("doc_id", "text")
    val got = DedupQueries.fuzzyPairsOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // docs 1-2 share "the quick brown" and "quick brown fox" (2); the
    // third trigrams differ. sim_bp = (10000*(26-2) + 13) div 26.
    assert(got.toSeq == Seq((1L, 2L, 2L, 2L, 9231L)))
  }

  private def embMap: Map[Long, Array[Double]] =
    graft.rel.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) *
      math.sqrt(b.map(x => x * x).sum))
  }

  test("SQ8 top-k: quantized cosines within 0.01 of exact, and >= 8/10" +
    " of the exact top-10 survive quantization") {
    val got = run("q_sim_topk_sq8").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10)
    val e = embMap
    val q = e(0L)
    // quantization perturbs each stored vector by <= span/510 per dim:
    // the reconstructed cosine must sit on top of the exact one
    got.foreach { case (id, c) =>
      assert(math.abs(c - cosine(e(id), q)) < 0.01,
        s"SQ8 cosine drifted for vec $id: $c vs ${cosine(e(id), q)}")
    }
    val exact = e.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val recall = exact.intersect(got.map(_._1).toSet).size
    assert(recall >= 8, s"SQ8 recall@10 vs exact = $recall/10")
  }

  test("bitext margin mining: every pair is a MUTUAL best match under" +
    " exact cosines and the margin/verdict recompute from the top-4" +
    " neighborhoods") {
    val got = run("q_sim_bitext_margin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getString(4)))
    assert(got.nonEmpty)
    val e = embMap
    val aIds = e.keys.filter(id => id % 2 == 0 && id < 64).toSeq.sorted
    val bIds = e.keys.filter(_ % 2 == 1).toSeq.sorted
    def top(ids: Seq[Long], v: Array[Double]) =
      ids.map(i => (i, cosine(e(i), v))).sortBy { case (i, c) => (-c, i) }
    got.foreach { case (a, b, cs, mg, verdict) =>
      val fwd = top(bIds, e(a))
      val bwd = top(aIds, e(b))
      assert(fwd.head._1 == b && bwd.head._1 == a,
        s"($a,$b) is not a mutual best match")
      assert(math.abs(cs - cosine(e(a), e(b))) < 1e-3,
        s"($a,$b) cosine off: $cs")
      val denom = (fwd.take(4).map(_._2).sum / 4 +
        bwd.take(4).map(_._2).sum / 4) / 2
      val margin = cosine(e(a), e(b)) / denom
      assert(math.abs(mg - margin) < 1e-3, s"($a,$b) margin off: $mg")
      assert(verdict == (if (margin >= 1.0) "mine" else "skip"),
        s"($a,$b) verdict $verdict at margin $margin")
    }
    // the batch is 32 queries; mutual-best can only shrink it
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.length <= 32)
  }
}

object LlmSpec {

  /** The kernel-free SimHash formulation — the cross-check for
    * [[graft.functions.SimHash64]]: explode doc x token x bit, two
    * partial-aggregated groupBys, bit_or. */
  def simhashRelational(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val contrib = toks
      .select(col("doc_id"), col("h"), explode(expr("sequence(0, 63)")).as("i"))
      .select(col("doc_id"), col("i"),
        expr("CASE WHEN (shiftright(h, cast(i AS int)) & 1) = 1 " +
          "THEN 1 ELSE -1 END").as("sgn"))
    contrib
      .groupBy("doc_id", "i").agg(sum(col("sgn")).as("s"))
      .select(col("doc_id"), expr(
        "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(i AS int)) " +
          "ELSE CAST(0 AS BIGINT) END").as("bit"))
      .groupBy("doc_id").agg(expr("bit_or(bit)").as("simhash"))
      .orderBy("doc_id")
  }
}
