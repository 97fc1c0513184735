package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine of a vector with itself is 1") {
    val r = emb.limit(3)
      .select(Similarity.cosine(
        Similarity.asDouble(col("embedding")),
        Similarity.asDouble(col("embedding"))).as("c"))
      .as[Double].collect()
    assert(r.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("brute-force top-k is ordered, excludes self, has k rows per query") {
    val out = Similarity.bruteForceTopK(emb.where(col("vec_id") < 3), emb, k = 5)
      .collect()
    assert(out.length == 15)
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rows) =>
      val ranked = rows.sortBy(_.getAs[Int]("rank"))
      assert(ranked.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
      val sims = ranked.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN recall@10 vs brute force is usable (>= 0.5)") {
    val queries = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(queries, emb, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("IVF top-k probes nprobe cells and returns ranked neighbors") {
    val cents = Similarity.hyperplanes(8, 64, seed = 11L)
    val queries = emb.where(col("vec_id") < 3)
    val out = Similarity.ivfTopK(queries, emb, cents, k = 5, nprobe = 2)
      .collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length))
      assert(rows.length <= 5 && rows.nonEmpty)
    }
    // nprobe=2 of 8 cells: candidates must be a strict subset of the corpus
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = out
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"ivf recall $recall") // coarse cells, lenient bound
  }

  test("IVF at 64 cells: flat plan, probed cells match the ranked reference") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cents = Similarity.hyperplanes(64, 64, seed = 5L)
    val queries = emb.where(col("vec_id") < 5)
    // the plan must not grow with the cell count: one scan per side, no
    // per-centroid union of the query set
    val out = Similarity.ivfTopK(queries, emb, cents, k = 5, nprobe = 4)
    val s = out.queryExecution.executedPlan.toString
    assert(!s.contains("Union"), s"per-centroid union resurfaced:\n$s")
    assert("Scan parquet".r.findAllIn(s).size <= 2,
      s"expected ≤2 scans (query+corpus):\n$s")
    assert(out.collect().nonEmpty)
    // probed cells equal the (dist asc, cell asc) top-nprobe selection
    val probe = ColumnBridge.column(graft.functions.IvfCells(
      ColumnBridge.expression(Similarity.asDouble(col("embedding"))),
      cents, 4))
    val actual = queries.select(col("vec_id"), probe.as("cells")).collect()
      .map(r => r.getAs[Long](0) -> r.getSeq[Int](1).toSeq).toMap
    val vecs = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long](0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    vecs.foreach { case (id, v) =>
      val expected = cents.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val x = v(j) - c(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(identity).take(4).map(_._2).toSeq
      assert(actual(id) == expected, s"query $id probed ${actual(id)}")
    }
  }

  test("IVF at 4096 cells: the probe plan stays flat at production cell counts") {
    // the 64-cell pin proved no per-centroid union; this is the same
    // assertion at a production-shaped cell count (the 4k-65k range the
    // scaladoc claims). Data stays tiny — the property under test is
    // PLAN SIZE as a function of the centroid count: the centroids ride
    // inside the single native IvfCells/IvfCell expressions, so the node
    // count must be IDENTICAL to the 64-cell plan, not merely Union-free
    def planOf(cells: Int) = {
      val cents = Similarity.hyperplanes(cells, 64, seed = 5L)
      Similarity.ivfTopK(emb.where(col("vec_id") < 3), emb.limit(50),
        cents, k = 5, nprobe = 4).queryExecution.executedPlan
    }
    val at64 = planOf(64)
    val at4096 = planOf(4096)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect { case n => n }.size
    assert(!at4096.toString.contains("Union"),
      "per-centroid union resurfaced at 4096 cells")
    assert("Scan parquet".r.findAllIn(at4096.toString).size <= 2,
      "expected ≤2 scans (query+corpus) at 4096 cells")
    assert(nodes(at4096) == nodes(at64),
      s"plan must not grow with cell count: ${nodes(at64)} nodes at 64 " +
        s"vs ${nodes(at4096)} at 4096")
  }

  test("lshTopK at the prescribed 8-16 planes: high recall, small candidate fraction") {
    // the scaladoc prescribes 8-16 planes per table for true near-dup
    // corpora (high intra-cluster cosine); this pins BOTH halves of that
    // claim on a clustered corpus — recall stays high because per-plane
    // agreement is high, and buckets shrink so each query compares
    // against a small fraction of the corpus (the property that makes
    // LSH viable at 100 TB). k = MaxValue keeps every candidate pair
    // through ranking, so the output row count IS the candidate-set
    // size.
    val rnd = new scala.util.Random(123)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextDouble() * 10 - 5))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, df, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.lshTopK(queries, df, k = 10,
      planesPerTable = 12, tables = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall at 12 planes × 8 tables")
    val candidates = Similarity.lshTopK(queries, df, k = Int.MaxValue,
      planesPerTable = 12, tables = 8).count()
    val fraction = candidates.toDouble / (5.0 * 400.0)
    // clusters are 1/8 = 0.125 of the corpus; tight buckets must keep
    // the candidate set near the cluster, far from all-pairs
    assert(fraction <= 0.30, s"candidate fraction $fraction")
    info(f"measured: recall@10 = $recall%.3f, candidate fraction = $fraction%.4f")
  }

  test("argmin-k equals the sort-based reference on seeded random inputs") {
    // 200 random (vector, centroid-set, nprobe) triples, including
    // planted exact ties (duplicate centroids) — the bounded insertion
    // sort must reproduce sortBy((dist, cell)).take(nprobe) exactly
    val rnd = new scala.util.Random(31)
    (0 until 200).foreach { trial =>
      val dim = 1 + rnd.nextInt(8)
      val k = 1 + rnd.nextInt(40)
      val nprobe = 1 + rnd.nextInt(k + 4) // sometimes past the cell count
      val cents = Array.fill(k, dim)((rnd.nextInt(7) - 3).toDouble)
      val v = Array.fill(dim)((rnd.nextInt(7) - 3).toDouble)
      val got = graft.functions.IvfCellImpl.cells(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        cents.flatten, k, dim, nprobe).toSeq
      val want = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (x, y) => (y - x) * (y - x) }.sum, i)
      }.sortBy(identity).take(nprobe).map(_._2).toSeq
      assert(got == want, s"trial $trial: k=$k nprobe=$nprobe dim=$dim")
    }
  }

  test("argmin-k keeps the lower cell on exact distance ties") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // the origin is equidistant from the two mirrored centroids 1 and 2;
    // centroid 0 is farther
    val cents = Array(Array(0.0, 3.0), Array(1.0, 0.0), Array(-1.0, 0.0))
    val df = Seq((0L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    def probed(nprobe: Int): Seq[Int] =
      df.select(ColumnBridge.column(graft.functions.IvfCells(
          ColumnBridge.expression(Similarity.asDouble(col("embedding"))),
          cents, nprobe)).as("cells"))
        .collect().head.getSeq[Int](0).toSeq
    assert(probed(2) == Seq(1, 2)) // tie at dist 1 → lower cell first
    assert(probed(1) == Seq(1))
    // nprobe past the cell count degrades to all cells in (dist, cell) order
    assert(probed(8) == Seq(1, 2, 0))
  }

  test("kmeans is deterministic and recovers well-separated clusters") {
    val rnd = new scala.util.Random(7)
    // two tight clusters around +10 and -10 in every dim
    val sample = Array.tabulate(40) { i =>
      val base = if (i % 2 == 0) 10.0 else -10.0
      Array.fill(4)(base + rnd.nextGaussian() * 0.1)
    }
    val c1 = Similarity.kmeans(sample, k = 2, iters = 5)
    val c2 = Similarity.kmeans(sample.map(_.clone()), k = 2, iters = 5)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // bit-identical
    val means = c1.map(_.sum / 4)
    assert(means.exists(m => math.abs(m - 10) < 0.5) &&
      means.exists(m => math.abs(m + 10) < 0.5), means.toSeq.toString)
    // k > sample size degrades gracefully
    assert(Similarity.kmeans(sample.take(3), k = 8).length == 3)
  }

  test("trained IVF centroids beat untrained recall on a clustered corpus") {
    val rnd = new scala.util.Random(123)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextDouble() * 10 - 5))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 1.5).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, df, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(cents: Array[Array[Double]]): Double = {
      val approx = Similarity.ivfTopK(queries, df, cents, k = 10, nprobe = 2)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val trained = recall(Similarity.trainCentroids(df, k = 8))
    val untrained = recall(Similarity.hyperplanes(8, 64, seed = 11L))
    assert(trained >= 0.8, s"trained recall $trained")
    assert(trained >= untrained + 0.1,
      s"trained $trained should beat untrained $untrained by >= 0.1")
  }

  test("trainCentroids hash-samples: offset ids train, partitioning-invariant") {
    val rnd = new scala.util.Random(5)
    // ids start at 10^9 — the old `id < maxSample` predicate collected
    // nothing here; the xxhash64 slice is id-distribution-agnostic
    val vecs = (0 until 200).map { i =>
      (1000000000L + i * 7L, Array.fill(8)(rnd.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val c1 = Similarity.trainCentroids(df, k = 4)
    val c2 = Similarity.trainCentroids(df.repartition(7), k = 4)
    assert(c1.length == 4)
    // bit-identical across partitionings: the ordered cap + driver sort
    // pin accumulation order
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("trainCentroids on an empty sample raises the engine's NoData error") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[graft.GraftError.NoData] {
      Similarity.trainCentroids(empty, k = 8)
    }
    assert(e.code == 9998 && e.getMessage.contains("trainCentroids"))
  }

  test("IVF assignment puts every vector in a valid cell") {
    val cents = Similarity.hyperplanes(4, 64, seed = 7L)
    val out = Similarity.ivfAssign(emb.limit(50), cents)
      .select("cell").as[Int].collect()
    assert(out.forall(c => c >= 0 && c < 4))
    assert(out.toSet.size > 1) // not everything in one cell
  }

  test("semantic dedup drops exactly the co-celled planted replicas") {
    // The corpus embeddings are random (max pairwise cosine ≈ 0.48 <
    // 0.8), so the only pairs above threshold are (base, base+0.1
    // replica) — and only when the two land in the SAME cell (the
    // documented SemDeDup cross-cell blind spot applies to both engine
    // and oracle). Every base (lower id of its pair) must survive;
    // every replica must be dropped iff co-celled with its base.
    val out = graft.queries.SimilarityQueries.semanticDedup(spark, sf)
      .select("vec_id", "cell", "n_sem_dups", "keep_flag")
      .as[(Long, Int, Long, Int)].collect()
    val n = out.count(_._1 < 1000000L)
    assert(out.length == 2 * n, "one planted replica per base vector")
    val cellOf = out.map(r => r._1 -> r._2).toMap
    out.filter(_._1 < 1000000L).foreach { r =>
      assert(r._4 == 1, s"base ${r._1} must survive, got $r")
    }
    out.filter(_._1 >= 1000000L).foreach { r =>
      val coCelled = cellOf(r._1 - 1000000L) == r._2
      assert(r._4 == (if (coCelled) 0 else 1),
        s"replica ${r._1}: co-celled=$coCelled but keep=${r._4}")
      assert((r._3 > 0) == coCelled,
        s"replica ${r._1}: n_sem_dups=${r._3} vs co-celled=$coCelled")
    }
    // the planted signal is non-vacuous: most replicas stay co-celled
    val dropped = out.count(_._4 == 0)
    assert(dropped > n / 2,
      s"expected most of the $n replicas dropped, got $dropped")
  }

  test("semK clamps: floor 8, N/1000 in between, ceiling 1024") {
    import graft.queries.SimilarityQueries.semK
    assert(semK(0L) == 8 && semK(500L) == 8 && semK(7999L) == 8)
    assert(semK(8000L) == 8 && semK(20000L) == 20 && semK(200000L) == 200)
    assert(semK(1024000L) == 1024 && semK(50000000L) == 1024)
  }

  test("semantic dedup is partitioning-independent") {
    val base = graft.queries.SimilarityQueries.semanticDedup(spark, sf)
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1).toSeq
    val p1 = spark.newSession()
    p1.conf.set("spark.sql.shuffle.partitions", "1")
    val again = graft.queries.SimilarityQueries.semanticDedup(p1, sf)
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1).toSeq
    assert(base == again, "semantic dedup depends on partitioning")
  }

  test("quantized top-k: shape contract and recall@10 vs exact brute force") {
    val queries = emb.where(col("vec_id") < 5)
    val out = Similarity.quantizedTopK(queries, emb, k = 10).collect()
    assert(out.length == 50)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val ranked = rows.sortBy(_.getAs[Int]("rank"))
      assert(ranked.map(_.getAs[Int]("rank")).toSeq == (1 to 10))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
      val sims = ranked.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    val exact = Similarity.bruteForceTopK(queries, emb, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = out
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"quantized recall@10 (coarseK=50) = $recall%.3f")
    assert(recall >= 0.7, s"quantized recall $recall")
  }

  test("quantized top-k plan: floats never shuffle; candidates broadcast") {
    val plan = Similarity.quantizedTopK(
      emb.where(col("vec_id") < 5), emb, k = 10).queryExecution.executedPlan
    // THE scale property: every shuffle exchange moves only narrow
    // id/score/rank rows — the float embedding column (array type) must
    // not appear in any shuffled schema (broadcasts of the 5-row query
    // side are exempt: they're the intended small side)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = plan match { // AQE wraps the tree; audit the initial plan
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    val shuffled = root.collect { case e: ShuffleExchangeExec => e }
    assert(shuffled.nonEmpty, "expected the coarse/rerank window shuffles")
    shuffled.foreach { e =>
      val arrays = e.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"vector column shuffled: ${e.output.map(_.name).mkString(",")}")
    }
    val s = plan.toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), "corpus×corpus cartesian leaked")
  }

  test("s15 lsh near-dup: recall vs the exact all-pairs set (the s05 primitive)") {
    // s15's oracle proves engine==DuckDB on the LSH-candidate composition;
    // this pins the other axis — how much of the EXACT all-pairs answer
    // (s05's shape, run here over the same planted corpus) the LSH
    // candidates retain. With 8 planes × 6 tables at planted cosine ≥
    // 0.997, per-table agreement ≈ 0.82 and the miss probability per pair
    // is ≈ 0.18^6 ≈ 3e-5 — deterministic under the fixed seed.
    registerSqlFunctions()
    val out = graft.queries.SimilarityQueries.annCosineNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = emb.select(col("vec_id"), col("embedding"))
    val planted = base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(Similarity.asDouble(col("embedding")), x => x + lit(0.01))
        .cast("array<float>").as("embedding"))
    val all = base.unionByName(planted)
    val a = all.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = all.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .where(expr("float_cosine(va, vb)") >= 0.8)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nBase = base.count()
    assert(exact.size >= nBase.toInt,
      "every base vector's planted replica must be an exact pair")
    assert(out.subsetOf(exact),
      "LSH-fed pairs are exact-verified — no false positives possible")
    val recall = exact.intersect(out).size.toDouble / exact.size
    info(f"s15 recall vs exact all-pairs = $recall%.4f (${exact.size} exact pairs)")
    assert(recall == 1.0,
      s"seeded-LSH recall dropped below the planted-pair guarantee: $recall")
  }

  test("s15 lsh near-dup plan: vectors don't ride the band shuffle; joins keyed") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = graft.queries.SimilarityQueries.annCosineNearDup(spark, sf)
      .queryExecution.executedPlan
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }
    // the candidate join's exchanges (shuffle at scale; broadcast when a
    // side is tiny, as at sf0.001) carry (id, table, code) triples only —
    // the float vectors join back AFTER pair distinct, by id
    val bandShuffles = root.collect { case e: Exchange => e }
      .filter(_.output.exists(_.name == "code"))
    assert(bandShuffles.nonEmpty, "expected the (table, code) candidate shuffle")
    bandShuffles.foreach { e =>
      assert(!e.output.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        s"vector rode the band shuffle: ${e.output.map(_.name).mkString(",")}")
    }
    val s = plan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the bucket equi-join:\n$s")
  }

  test("hard negatives: the nearest SAME-label vector is excluded; the " +
    "mined negative is the best cross-label one") {
    // query [1,0] label 0; a near-identical same-label vector (the
    // positive — must NOT be mined) and two cross-label candidates
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.05f), 0), // same label: excluded despite sim≈1
      (2L, Seq(0.9f, 0.3f), 1), // best cross-label
      (3L, Seq(0.5f, 0.8f), 2),
      (4L, Seq(-1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      rows.where(col("vec_id") === 0), rows, k = 3).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 4L))
    assert(!out.exists(_.getAs[Int]("neighbor_label") == 0),
      "no same-label row may ever be mined as a negative")
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("hard negatives on the corpus: k per query, never the query's " +
    "label, label filter runs inside the broadcast join") {
    val queries = emb.where(col("vec_id") < 5)
    val df = Similarity.hardNegatives(queries, emb, k = 5)
    val out = df.collect()
    val qLabels = queries.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.length == qLabels.size * 5)
    out.foreach { r =>
      assert(r.getAs[Int]("neighbor_label") !=
        qLabels(r.getAs[Long]("query_id")))
    }
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"query set must broadcast:\n$s")
    // the exclusion is a join CONDITION — positives die before any
    // cosine is computed, not in a post-join filter above the window
    assert("BroadcastNestedLoopJoin BuildRight, Cross, NOT".r
      .findFirstIn(s).isDefined,
      s"label exclusion must sit in the join condition:\n$s")
  }

  test("quantize8 matches s09's arithmetic and stays within int8 range") {
    val r = emb.limit(50)
      .select(Similarity.quantize8(col("embedding")).as("q"))
      .as[Seq[Int]].collect()
    assert(r.forall(_.forall(v => v >= -127 && v <= 127)))
    // spot-check the floor rule on a literal
    val one = spark.range(1)
      .select(Similarity.quantize8(
        array(lit(0.5f), lit(-0.5f), lit(3.0f), lit(-3.0f))).as("q"))
      .as[Seq[Int]].head()
    assert(one == Seq(32, -32, 127, -127))
  }
}
