package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *   - brute-force cosine top-k — the exactness baseline. Scales as
  *     |queries| × |corpus|: fine when the query set is small and
  *     broadcast; never the 100 TB corpus×corpus path.
  *   - random-hyperplane LSH buckets — the scale path: each vector maps to
  *     a small bucket code, candidate generation is an equi-join on the
  *     code, and cosine runs only within buckets. Multiple independent
  *     tables trade compute for recall.
  *
  * All vector math is double-precision higher-order functions
  * (zip_with/aggregate) — codegen'd, no UDFs, no driver collect.
  */
object Similarity {

  /** Cast array<float> → array<double> once, at the edge. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Wrap a custom Catalyst Expression as a user-facing Column (and
    * back) — the classic-API bridge for parameterized expressions that
    * can't go through the SQL function registry (runtime array params). */
  private def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(e)
  private def colExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)

  /** Sequential-fold dot product — deterministic order (left to right). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NULL (not NaN) on a zero-norm input, matching FloatCosine: NaN sorts
    * above every real similarity descending, NULLs sort last. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === lit(0.0), lit(null).cast("double")).otherwise(dot(a, b) / d)
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast); rank ties break by candidate id for determinism.
    * The similarity runs through the native codegen'd FloatCosine
    * expression — one fused loop per pair over the raw float ArrayData,
    * numerically identical to the double-fold builtin formulation. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", expr("float_cosine(qv, cv)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Hard-negative mining for contrastive training (the BM25/ANN negative
    * selection of DPR — Karpukhin et al. 2020 §4.2 — and the in-batch
    * hard negatives of SimCSE/E5): for each query vector, the top-k
    * most-similar corpus vectors with a DIFFERENT label — the
    * high-similarity non-matches that actually move a contrastive loss;
    * same-label rows (including the query itself) are positives and are
    * excluded in the join condition, before any similarity is computed.
    *
    * Exactness baseline like [[bruteForceTopK]] (queries broadcast, one
    * corpus scan, per-query top-k); at corpus×corpus mining scale the
    * candidate stage swaps for the IVF/LSH bucket joins (s07/s02) with
    * the same label-exclusion predicate pushed into the candidate join. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("neighbor_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .where(col("q_label") =!= col("neighbor_label"))
      .withColumn("sim", expr("float_cosine(qv, cv)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neighbor_label"), round(col("sim"), 6).as("sim"))
  }

  /** Corpus-scale hard-negative mining (r17 verdict item 1): the
    * [[hardNegatives]] semantics with the candidate stage swapped for
    * the trained-IVF bucket join of [[ivfTopK]] — corpus vectors bucket
    * by nearest centroid, each query probes only its `nprobe` nearest
    * cells, and the `q_label =!= neighbor_label` exclusion filters the
    * candidate join BEFORE any cosine is computed. [[hardNegatives]]
    * stays the exactness/recall oracle (the s01→s02/s07 pattern —
    * HardNegativesIvfSpec pins recall ≥ 0.9 vs brute force on a
    * clustered corpus). Mining needs a higher nprobe than plain ANN:
    * the nearest cell is usually the query's OWN cluster, whose members
    * are all same-label and excluded, so ~one probe is burned before
    * the first candidate (measured recall .18/.76/.84/.98/1.0 at
    * nprobe 1–5 of 8 cells on the spec's clustered fixture).
    *
    * 100 TB shape: ONE corpus scan computes the cell assignment (in
    * production, persisted + partitioned by cell so mining reads only
    * probed cells); the query side — mining runs on a bounded query
    * slice per pass — broadcasts with its probe cells, so corpus
    * vectors NEVER shuffle, and compute drops from |q|·|corpus| cosines
    * to |q|·|corpus|·nprobe/|cells|. The one exchange feeds the
    * per-query top-k with narrow (query_id, neighbor_id, label, sim)
    * rows — WindowGroupLimit caps it map-side and the vector columns
    * are pruned off it (both plan-pinned).
    *
    * CONTRACT — `queries` must be a BOUNDED mining slice: the query
    * side is broadcast UNCONDITIONALLY (exploded to |q|·nprobe rows of
    * (id, vector, label, cell)), so it must fit executor memory —
    * ~100k queries × nprobe at 64-float vectors ≈ 100 MB is the
    * practical ceiling. This is the DPR/contrastive-mining reality
    * (each training pass mines negatives for one bounded batch of
    * anchors, not corpus×corpus); a caller with more anchors pages
    * through slices pass by pass, as the registered s22 does with its
    * `vec_id % 97` slice — which grows with the corpus and therefore
    * RELIES on this paging contract at true 100 TB scale.
    * HardNegativesIvfSpec pins that the broadcast stays on the query
    * side (corpus vectors never ride an exchange). */
  def hardNegativesIvf(queries: DataFrame, corpus: DataFrame,
                       centroids: Array[Array[Double]], k: Int,
                       nprobe: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    // vectors stay FLOAT end to end; doubles exist only inside the
    // argmin cell expressions. The rerank is the native codegen
    // FloatCosine — the builtin zip_with/aggregate double-fold is
    // INTERPRETED (~dim boxed ops per pair), which s07's 5-query probe
    // never noticed but s22's corpus-slice query set (|corpus|/97
    // queries × |corpus|·nprobe/cells candidates) turns into the top of
    // the ×100 profile (caught at the r18 ×100-grow cell: the warmup
    // pass sat >60 min in exactly this projection). FloatCosine runs
    // the same double-precision accumulation order, so values — and the
    // DuckDB oracle — are unchanged (the s21 precedent).
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), col(labelCol).as("neighbor_label"))
      .withColumn("cell",
        exprCol(graft.functions.IvfCell(
          colExpr(asDouble(col("cv"))), centroids)))
    val q0 = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("q_label"))
    val qCells = q0.select(col("query_id"), col("qv"), col("q_label"),
      explode(exprCol(graft.functions.IvfCells(
        colExpr(asDouble(col("qv"))), centroids, nprobe))).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(qCells), Seq("cell"))
      .where(col("q_label") =!= col("neighbor_label"))
      .withColumn("sim", expr("float_cosine(qv, cv)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neighbor_label"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic pseudo-random hyperplanes: `planes` rows of `dim`
    * weights in [-1, 1), seeded — reproducible across runs and cluster
    * sizes (no RNG state on executors). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** LSH-bucketed ANN: join query and corpus on bucket code (per table),
    * exact cosine within buckets, global top-k per query across tables.
    * With t tables of p planes, recall rises as 1-(1-(1-θ/π)^p)^t. */
  /** Default 3 planes × 10 tables suits a low-similarity corpus (random
    * embeddings: top neighbors at cos≈0.2 ⇒ per-plane agreement ≈0.57,
    * so 3 planes ⇒ ~0.19/table ⇒ ~0.88 recall over 10 tables). For
    * true near-dup corpora (cos ≥ 0.9) raise planesPerTable to 8-16 to shrink
    * buckets; recall stays high because per-plane agreement ≈0.9. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              planesPerTable: Int = 3, tables: Int = 10,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    // One projection computes ALL per-table codes (native fused loop —
    // the builtin per-plane aggregate/zip_with lambdas are interpreted,
    // ~tables×planes×dim boxed ops per row), then posexplode — the
    // corpus parquet is scanned exactly once (a unionAll of per-table
    // withColumn copies would physically re-scan it `tables` times: 10
    // full corpus reads at 100 TB where one suffices). The native loop
    // runs the same dots in the same IEEE order as the lambda form, so
    // codes — and the DuckDB oracle — are unchanged. The join below is
    // unchanged: same (table, code) keys, same candidate set.
    def coded(df: DataFrame, id: String, vec: String): DataFrame = {
      val base = df.select(col(idCol).as(id), asDouble(col(vecCol)).as(vec))
      val codesCol = exprCol(graft.functions.LshBucketCodes(
        colExpr(col(vec)), planesPerTable, tables, dim, seed))
      base.select(col(id), col(vec),
        posexplode(codesCol).as(Seq("table", "code")))
    }
    val q = coded(queries, "query_id", "qv")
    val c = coded(corpus, "neighbor_id", "cv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("table", "code"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
      .distinct() // same pair can meet in several tables
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** LSH-bucketed cosine near-dup PAIRS — the scale path whose bounded
    * all-pairs primitive is s05: candidates come from a (table, code)
    * equi-join over random-hyperplane bucket codes (one narrow native
    * projection per row, never an all-pairs compare), and exact cosine
    * runs on candidate pairs only. The 100 TB shape mirrors
    * [[graft.dedup.Dedup.nearDupPairsFlat]]: the candidate join shuffles
    * only (table, code, id) triples — the vectors do NOT ride through the
    * band shuffle — and the verify join fetches vectors by id afterwards.
    *
    * Parameter shape differs from [[lshTopK]] deliberately: ANN retrieval
    * wants big buckets (few planes) for recall at cos≈0.2; near-dup
    * detection targets cos ≥ threshold≈0.8-1.0 where per-plane agreement
    * is ≈1-acos(c)/π ≥ 0.9, so MORE planes (default 8) shrink buckets —
    * candidate volume stays corpus-linear — while multiple tables keep
    * pair recall: at cos 0.997 (a planted near-dup), 8 planes agree with
    * p≈0.82 per table and 6 tables push recall past 0.9999.
    *
    * `vecCol` must be `array<float>`: codes are computed on its double
    * widening, the verify cosine on the raw floats via the native fused
    * FloatCosine (an oracle mirrors both exactly — `::DOUBLE[]` and
    * `CAST(... AS REAL[])` in DuckDB). Returns (id_a, id_b, sim) with
    * id_a < id_b at sim ≥ threshold.
    *
    * Duplicate-heavy corpora (the ×100 worlds replicate every embedding
    * verbatim; real corpora duplicate embeddings wherever documents
    * duplicate) route through the vector twin of
    * [[graft.dedup.Dedup.collapseExpand]]: identical vectors share ALL
    * bucket codes, so the candidate set grows with duplication² per
    * distinct vector and the verify join ships two float vectors per
    * exploded pair — the ×100-sampled cell measured a single sort-merge
    * task grinding on exactly that. The collapse groups byte-identical
    * vectors (sha256 over the exact decimal rendering of each float —
    * distinct bit patterns render distinctly, so the digest is
    * collision-free modulo SHA; a fixed 32-byte key where joining on the
    * raw 256-byte vector would 8× the expansion-join shuffle at 100 TB),
    * runs candidates + cosine over one representative per distinct
    * vector, and expands with constant-width id joins. Intra-group pairs
    * carry the rep's SELF-cosine through the same ≥ threshold filter —
    * not a hardcoded 1.0 — so a zero-norm group (NULL self-cosine,
    * FloatCosine's contract) is dropped exactly like the flat route
    * drops it. Output-identical to the flat form (VectorCollapseSpec). */
  def lshNearDupPairs(df: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      planesPerTable: Int = 8, tables: Int = 6,
                      dim: Int = 64, seed: Long = 137L): DataFrame = {
    graft.functions.FloatCosine.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vf"))
    if (vectorDuplicationRatio(base, "vf") <
        graft.dedup.Dedup.CollapseDuplicationThreshold)
      return lshNearDupPairsFlat(base, threshold, planesPerTable, tables,
        dim, seed)
    // to_json, NOT concat_ws: concat_ws silently SKIPS null elements, so
    // [1, null, 5] and [1, 5] would share a key and collapse two
    // structurally different vectors into one group (fabricating a
    // sim-1.0 pair the flat route would reject); JSON renders nulls and
    // brackets explicitly, so the key is collision-free for any array
    val keyed = base.withColumn("ek", sha2(to_json(col("vf")), 256))
    val members = keyed.select(col("id"), col("ek"))
    val reps = keyed.groupBy(col("ek"))
      .agg(min(col("id")).as("id"), min_by(col("vf"), col("id")).as("vf"))
    val rp = lshNearDupPairsFlat(reps.select(col("id"), col("vf")),
      threshold, planesPerTable, tables, dim, seed)
    // identical vectors: payload is the self-cosine through the SAME
    // filter + rounding as the flat verify (≈1.0 ± ulps → 1.0 after
    // round(…, 6); NULL for zero-norm → group dropped, matching flat)
    val selfSims = reps
      .withColumn("s0", expr("float_cosine(vf, vf)"))
      .where(col("s0") >= threshold)
      .select(col("ek"), round(col("s0"), 6).as("sim"))
    val intra = members.as("m1")
      .join(members.as("m2"),
        col("m1.ek") === col("m2.ek") && col("m1.id") < col("m2.id"))
      .join(selfSims.as("ss"), col("m1.ek") === col("ss.ek"))
      .select(col("m1.id").as("id_a"), col("m2.id").as("id_b"), col("sim"))
    val groupOf = reps.select(col("id").as("rid"), col("ek"))
    val cross = rp
      .join(groupOf.as("ka"), col("id_a") === col("ka.rid"))
      .join(groupOf.as("kb"), col("id_b") === col("kb.rid"))
      .join(members.as("ma"), col("ma.ek") === col("ka.ek"))
      .join(members.as("mb"), col("mb.ek") === col("kb.ek"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("sim"))
    intra.unionAll(cross)
  }

  /** The flat (no collapse) LSH near-dup formulation over a prepared
    * (id, vf) frame — see [[lshNearDupPairs]], which routes here for
    * distinct corpora and feeds representatives through here otherwise. */
  private[graft] def lshNearDupPairsFlat(base: DataFrame, threshold: Double,
                      planesPerTable: Int = 8, tables: Int = 6,
                      dim: Int = 64, seed: Long = 137L): DataFrame = {
    val codes = base.select(col("id"),
      posexplode(exprCol(graft.functions.LshBucketCodes(
        colExpr(asDouble(col("vf"))), planesPerTable, tables, dim, seed)))
        .as(Seq("table", "code")))
    val cands = codes.as("a").join(codes.as("b"),
        col("a.table") === col("b.table") && col("a.code") === col("b.code") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands.join(base.as("va"), col("id_a") === col("va.id"))
      .join(base.as("vb"), col("id_b") === col("vb.id"))
      .withColumn("sim", expr("float_cosine(va.vf, vb.vf)"))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Rows per distinct vector — [[graft.dedup.Dedup.duplicationRatio]]'s
    * vector twin (same HLL shape, same O(1)-driver-memory and
    * re-execution-safety argument; the routing it feeds is
    * performance-only, both routes output-identical). xxhash64 hashes the
    * array's elements directly — no normalization: byte-identity is the
    * collapse equality, exactly like the probe's digest counterpart. */
  private[graft] def vectorDuplicationRatio(df: DataFrame,
                                            vecCol: String): Double = {
    val h = when(col(vecCol).isNull, lit(null)).otherwise(xxhash64(col(vecCol)))
    val r = df.agg(count(col(vecCol)).as("n"),
      approx_count_distinct(h).as("d")).head()
    val n = r.getLong(0)
    val d = r.getLong(1)
    if (d <= 0L) 1.0 else n.toDouble / d.toDouble
  }

  /** IVF top-k: corpus vectors are bucketed by nearest centroid (one
    * narrow map + an equi-join); each query probes its `nprobe` nearest
    * cells only. The 100 TB story: the corpus is scanned once to build
    * cell assignments (in production, persisted + partitioned by cell),
    * and a query touches |corpus|·nprobe/|cells| candidates instead of
    * the whole corpus.
    *
    * Probe selection is the native argmin-k `IvfCells` expression — one
    * pass over the query side regardless of the centroid count. (The
    * previous shape unioned one copy of the query set per centroid and
    * ranked with a window: the logical plan grew linearly in #cells,
    * which collapses at production 4k-65k cells. Same distances, same
    * (dist, cell) tie order — probed cells are bit-identical, so the
    * dump-time oracle is unchanged.) */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: Array[Array[Double]], k: Int, nprobe: Int = 2,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    // the hardNegativesIvf shape (r18 ×100 fix applied here too): on a
    // FLOAT corpus the vectors stay float end to end — doubles exist
    // only inside the argmin cell expressions — and the rerank is the
    // native codegen FloatCosine instead of the INTERPRETED builtin
    // double-fold (~dim boxed ops per candidate pair, the projection
    // that sat >60 min at the r18 ×100-grow warmup on s22's query
    // slice). FloatCosine runs the same double-precision accumulation
    // order, so sims — and the DuckDB oracle — are unchanged. A caller
    // with a genuine array<double> corpus (spec fixtures) keeps the
    // interpreted double path: a float downcast would CHANGE its values.
    // The two routes also agree on MALFORMED vectors (r20): a width
    // mismatch yields NULL on both (FloatCosine NULLs it natively; the
    // double route's zip_with pads with NULL), so top-k membership never
    // differs by schema route.
    val isFloat = Seq(corpus.schema(vecCol).dataType,
      queries.schema(vecCol).dataType).forall {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val (c, q0) =
      if (isFloat) (
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
          .withColumn("cell", exprCol(graft.functions.IvfCell(
            colExpr(asDouble(col("cv"))), centroids))),
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
      else (
        ivfAssign(corpus, centroids, idCol, vecCol)
          .select(col(idCol).as("neighbor_id"), col("v").as("cv"),
            col("cell")),
        queries.select(col(idCol).as("query_id"),
          asDouble(col(vecCol)).as("qv")))
    val qCells = q0.select(col("query_id"), col("qv"),
      explode(exprCol(graft.functions.IvfCells(
        colExpr(asDouble(col("qv"))), centroids, nprobe))).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(qCells), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        if (isFloat) expr("float_cosine(qv, cv)")
        else cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** SQ8 scalar quantization — s09's arithmetic, `array<float>` →
    * `array<int>`: `clamp(-127, 127, floor(x · 64))`. Double math with an
    * exact integer result, so Spark, the codegen'd IntDot consumer, and a
    * DuckDB `floor(x*64)` mirror all see identical codes. */
  def quantize8(v: Column): Column =
    transform(v, x =>
      greatest(lit(-127), least(lit(127),
        floor(x.cast("double") * 64).cast("int"))))

  /** Two-stage quantized top-k (SQ8 coarse scan + exact float rerank) —
    * the brute-force path's 100 TB successor:
    *
    *   1. COARSE: every corpus vector is scored against each (broadcast)
    *     query by integer dot product over int8 codes — the scan touches
    *     64 B of codes per row instead of 256 B of floats (4× less
    *     bandwidth; in production the codes are the persisted structure
    *     and the float column isn't read at all here), and the top-k
    *     window shuffles only narrow (query_id, neighbor_id, coarse)
    *     triples — the float vectors NEVER shuffle.
    *   2. RERANK: only the `coarseK` survivors per query (a tiny,
    *     broadcast-able id list) join back to the corpus for exact
    *     FloatCosine — candidate fetch by id, the FAISS-style refine
    *     step.
    *
    * Everything that determines the candidate SET is integer arithmetic
    * (int8 products, long sums — exact in any engine, no float tie
    * ambiguity at the coarseK boundary), which is what lets the whole
    * pipeline be value-oracled in DuckDB rather than recall-tested only.
    * Ties break by neighbor_id in both stages. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    coarseK: Int = 50,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    graft.functions.IntDot.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), quantize8(col(vecCol)).as("qq"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize8(col(vecCol)).as("qc"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id"))
    val cand = c.crossJoin(broadcast(q.select(col("query_id"), col("qq"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("int_dot(qq, qc)").as("coarse"))
      .withColumn("crank", row_number().over(wc))
      .where(col("crank") <= coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val fetch = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    fetch.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("sim", expr("float_cosine(qv, cv)"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Lloyd k-means over an in-memory sample — the IVF coarse-quantizer
    * trainer. Deterministic given the sample order: init spreads over the
    * (caller-sorted) sample at stride n/k, assignment breaks distance ties
    * toward the lower cell (strict `<`, matching IvfCell), and an emptied
    * cell keeps its previous centroid. Pure driver-side arithmetic on a
    * bounded sample; the result broadcasts as expression literals. */
  def kmeans(sample: Array[Array[Double]], k: Int,
             iters: Int = 5): Array[Array[Double]] = {
    require(sample.nonEmpty, "kmeans needs a non-empty sample")
    val dim = sample.head.length
    val kk = math.min(k, sample.length)
    var cents = Array.tabulate(kk)(i =>
      sample(((i.toLong * sample.length) / kk).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c)
        else { val s = sums(c); Array.tabulate(dim)(i => s(i) / counts(c)) }
      }
    }
    cents
  }

  /** Train IVF centroids from a BOUNDED deterministic corpus sample.
    *
    * The sample is a hash slice — `pmod(xxhash64(id), sampleMod) = 0`
    * keeps ~1/sampleMod of the corpus wherever the ids live (the previous
    * `id < maxSample` predicate assumed dense low ids: on a corpus whose
    * ids start at 10^9 it collected nothing). The slice is evaluated in
    * the scan stage (narrow, no shuffle) and capped by an id-ordered
    * `limit(maxSample)` — TakeOrderedAndProject, per-partition top-k then
    * a bounded driver merge — so the collect stays bounded even when the
    * caller's sampleMod underestimates the corpus; at 100 TB pick
    * sampleMod ≈ |corpus|/maxSample so the cap rarely binds and the slice
    * stays unbiased. Ids are unique, so the ordered cap is deterministic;
    * the driver-side id sort fixes accumulation order, so the trained
    * floats reproduce bit-for-bit across runs and partitionings — which
    * is what lets an oracle embed the trained centroids as literals. */
  def trainCentroids(corpus: DataFrame, k: Int = 8, maxSample: Int = 1024,
                     iters: Int = 5, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     sampleMod: Int = 4): Array[Array[Double]] =
    kmeans(boundedSample(corpus, maxSample, idCol, vecCol, sampleMod),
      k, iters)

  /** The bounded deterministic sample collection behind [[trainCentroids]]
    * and [[trainPQ]] — see trainCentroids' scaladoc for the hash-slice /
    * ordered-cap / bit-reproducibility argument. */
  private def boundedSample(corpus: DataFrame, maxSample: Int,
                            idCol: String, vecCol: String,
                            sampleMod: Int): Array[Array[Double]] = {
    val sample = corpus
      .where(pmod(xxhash64(col(idCol)), lit(sampleMod.toLong)) === 0)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .sort(col("id"))
      .limit(maxSample)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    if (sample.isEmpty)
      throw graft.GraftError.NoData(
        s"trainCentroids: the 1/$sampleMod hash slice of $idCol matched " +
          "no vectors — lower sampleMod or check the corpus")
    sample
  }

  /** Train product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector space split
    * into `m` contiguous subspaces, each with its own k-means codebook
    * over the SAME bounded deterministic sample as [[trainCentroids]] —
    * one collect trains all m codebooks, and the id-sorted sample keeps
    * the trained floats bit-reproducible, which is what lets an oracle
    * embed them as literals. Returns `codebooks(s)(code) = centroid`
    * (m × k × dim/m). */
  def trainPQ(corpus: DataFrame, m: Int = 4, k: Int = 16,
              maxSample: Int = 1024, iters: Int = 5,
              idCol: String = "vec_id", vecCol: String = "embedding",
              sampleMod: Int = 4): Array[Array[Array[Double]]] = {
    val sample = boundedSample(corpus, maxSample, idCol, vecCol, sampleMod)
    val dim = sample.head.length
    require(dim % m == 0, s"trainPQ: dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { s =>
      kmeans(sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)), k, iters)
    }
  }

  /** PQ codebooks snapped to the SQ8 integer grid (s09's arithmetic,
    * `clamp(-127, 127, floor(x·64))`) — the reconstruction table the
    * integer ADC scan reads. Double math with an exact integer result,
    * so Spark literals and a DuckDB `floor(x*64)` mirror agree. */
  def quantizePQ(cbs: Array[Array[Array[Double]]]): Array[Array[Array[Int]]] =
    cbs.map(_.map(_.map(x =>
      math.max(-127, math.min(127, math.floor(x * 64).toInt)))))

  /** PQ-encoded ANN top-k (encode → integer ADC coarse scan → exact float
    * rerank) — the canonical billion-scale ANN layout: each corpus vector
    * is m sub-codes (m bytes in production), and the coarse scan never
    * touches the float column at all.
    *
    *   1. ENCODE: per subspace, [[graft.functions.IvfCell]]'s fused
    *      argmin against that subspace's codebook (strict-`<` keeps the
    *      first minimum — ties to the lowest code, the s07 rule) over a
    *      codegen'd `slice` of the vector. Narrow, zero shuffle.
    *   2. COARSE (integer ADC): the SQ8-grid reconstruction
    *      `recon = concat(qcb(s)(code_s))` scores each (broadcast) query
    *      by `rnorm2 − 2·int_dot(qq, recon)` — monotone in the squared L2
    *      `‖qq − recon‖²` since `‖qq‖²` is constant per query, and PURE
    *      INTEGER arithmetic (products ≤ 127², 64-term long sums), so the
    *      top-coarseK boundary is bit-stable in every engine — the s14
    *      trick that lets the candidate set be value-oracled, not merely
    *      recall-tested. `rnorm2` is precomputed at encode; only narrow
    *      (query_id, neighbor_id, coarse) triples reach the top-k window.
    *   3. RERANK: the coarseK survivors fetch their float vectors by id
    *      (broadcast id list) for exact FloatCosine — FAISS's refine step.
    *
    * Ties break by neighbor_id in both stages. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             codebooks: Array[Array[Array[Double]]],
             k: Int, coarseK: Int = 50,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    graft.functions.IntDot.register(queries.sparkSession)
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val qcb = quantizePQ(codebooks)
    val codeCols = (0 until m).map { s =>
      exprCol(graft.functions.IvfCell(
        colExpr(slice(col("v"), s * sub + 1, sub)), codebooks(s))).as(s"c$s")
    }
    val recon = concat((0 until m).map { s =>
      element_at(typedlit(qcb(s).map(_.toSeq).toSeq), col(s"c$s") + 1)
    }: _*)
    val enc = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"))
      .select(col("neighbor_id") +: codeCols: _*)
      .withColumn("recon", recon)
      .withColumn("rnorm2", expr("int_dot(recon, recon)"))
      .select(col("neighbor_id"), col("recon"), col("rnorm2"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), quantize8(col(vecCol)).as("qq"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse"), col("neighbor_id"))
    val cand = enc.crossJoin(broadcast(q.select(col("query_id"), col("qq"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("rnorm2") - lit(2L) * expr("int_dot(qq, recon)")).as("coarse"))
      .withColumn("crank", row_number().over(wc))
      .where(col("crank") <= coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val fetch = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    fetch.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("sim", expr("float_cosine(qv, cv)"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Residual PQ codebooks for the composed IVF-PQ layout (Jégou et al.
    * 2011 §IV: quantize `v − c(v)`, not `v` — residuals within a cell
    * have far less variance than raw vectors, so the same code budget
    * yields finer cells). Same bounded deterministic sample, same
    * per-subspace k-means as [[trainPQ]]; the cell assignment uses the
    * strict-`<` first-wins argmin [[graft.functions.IvfCell]] applies,
    * so the driver-side residuals match what the distributed encode
    * computes for the same vectors. One collect trains everything. */
  def trainResidualPQ(corpus: DataFrame, centroids: Array[Array[Double]],
                      m: Int = 4, k: Int = 16,
                      maxSample: Int = 1024, iters: Int = 5,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      sampleMod: Int = 4): Array[Array[Array[Double]]] = {
    val sample = boundedSample(corpus, maxSample, idCol, vecCol, sampleMod)
    val dim = sample.head.length
    require(dim % m == 0, s"trainResidualPQ: dim $dim not divisible by m=$m")
    val sub = dim / m
    val residuals = sample.map { v =>
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; best = c } // strict <: first minimum wins
        c += 1
      }
      Array.tabulate(dim)(i => v(i) - centroids(best)(i))
    }
    Array.tabulate(m) { s =>
      kmeans(residuals.map(v =>
        java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)), k, iters)
    }
  }

  /** Composed IVF-PQ top-k — the canonical billion-vector ANN layout
    * (FAISS `IVFx,PQy`): coarse IVF cells bound WHICH vectors a query
    * scores, residual-PQ codes bound WHAT the scoring reads.
    *
    *   1. Corpus: assign cell (IvfCell argmin), residual `v − c(cell)`
    *      (exact double subtraction), PQ-encode the residual per
    *      subspace, reconstruct on the SQ8 integer grid, precompute
    *      `rnorm2`. All narrow, zero shuffle; the persisted structure is
    *      (cell, m codes) per vector.
    *   2. Query: probe `nprobe` nearest cells (IvfCells), form the
    *      PER-CELL quantized residual query `qq = sq8(q − c(cell))` and
    *      its `qnorm2`. The candidate join is enc ⋈ broadcast(probes) ON
    *      cell — a query touches |corpus|·nprobe/|cells| rows, and the
    *      coarse score `qnorm2 − 2·int_dot(qq, recon) + rnorm2` is the
    *      FULL squared distance `‖qq − recon‖²` in pure integer
    *      arithmetic: unlike [[pqTopK]]'s fixed-query form, `‖qq‖²`
    *      varies per probed cell, so it must ride the score for the
    *      cross-cell ranking to be well-ordered — and bit-stable, which
    *      keeps the candidate boundary value-oracled (the s14/s17 rule).
    *   3. Exact float-cosine rerank of the coarseK survivors, ties by
    *      neighbor_id throughout. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                k: Int, nprobe: Int = 2, coarseK: Int = 50,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    graft.functions.FloatCosine.register(queries.sparkSession)
    graft.functions.IntDot.register(queries.sparkSession)
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val qcb = quantizePQ(codebooks)
    val centLit = typedlit(centroids.map(_.toSeq).toSeq)
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .withColumn("r", zip_with(col("v"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
    val codeCols = (0 until m).map { s =>
      exprCol(graft.functions.IvfCell(
        colExpr(slice(col("r"), s * sub + 1, sub)), codebooks(s))).as(s"c$s")
    }
    val recon = concat((0 until m).map { s =>
      element_at(typedlit(qcb(s).map(_.toSeq).toSeq), col(s"c$s") + 1)
    }: _*)
    val enc = assigned
      .select(Seq(col(idCol).as("neighbor_id"), col("cell")) ++ codeCols: _*)
      .withColumn("recon", recon)
      .withColumn("rnorm2", expr("int_dot(recon, recon)"))
      .select(col("neighbor_id"), col("cell"), col("recon"), col("rnorm2"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      asDouble(col(vecCol)).as("qd"))
    val qProbes = q0
      .select(col("query_id"), col("qd"),
        explode(exprCol(graft.functions.IvfCells(
          colExpr(col("qd")), centroids, nprobe))).as("cell"))
      .withColumn("qr", zip_with(col("qd"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
      .withColumn("qq", quantize8(col("qr")))
      .withColumn("qnorm2", expr("int_dot(qq, qq)"))
      .select(col("query_id"), col("cell"), col("qq"), col("qnorm2"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse"), col("neighbor_id"))
    val cand = enc.join(broadcast(qProbes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("qnorm2") - lit(2L) * expr("int_dot(qq, recon)")
          + col("rnorm2")).as("coarse"))
      .withColumn("crank", row_number().over(wc))
      .where(col("crank") <= coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val fetch = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    fetch.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q0.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("sim", expr("float_cosine(qv, cv)"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids` (tiny, broadcast). Centroids would come from a
    * sample-and-kmeans step in production; any fixed centroid set works
    * for the plumbing. */
  /** The IvfCell argmin as a bare Column — for callers that need the
    * cell WITHOUT ivfAssign's (id, v, cell) projection (e.g. s13 keeps
    * a float copy of the vector alongside for the native cosine). */
  def assignCell(v: Column, centroids: Array[Array[Double]]): Column =
    exprCol(graft.functions.IvfCell(colExpr(v), centroids))

  /** The IvfCells argmin-k as a bare Column: the `n` nearest cells in
    * (squared distance asc, cell asc) order — element 0 is assignCell's
    * argmin, element 1 the SECOND-nearest cell. s13's oversize-cell
    * sub-bucketing keys on element 1 (a deterministic split that needs
    * no extra training and that DuckDB mirrors as the rn=2 row of the
    * same window the rn=1 assignment already uses). */
  def assignCells(v: Column, centroids: Array[Array[Double]],
                  n: Int): Column =
    exprCol(graft.functions.IvfCells(colExpr(v), centroids, n))

  def ivfAssign(df: DataFrame, centroids: Array[Array[Double]],
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    // native fused argmin loop (the SQL aggregate-fold twin evaluated the
    // squared distance TWICE per candidate through interpreted lambdas);
    // same accumulation order and strict-< first-wins tie rule, so
    // assignments — and the DuckDB oracle — are unchanged
    val withV = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    withV.withColumn("cell",
      exprCol(graft.functions.IvfCell(colExpr(col("v")), centroids)))
  }
}
