package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.SparkSpec

/** Interpreted-vs-codegen parity for every native expression.
  *
  * Each expression has one kernel, a static method on its companion that
  * both `eval` (used whenever Spark falls back to interpreted projection
  * — `spark.sql.codegen.factoryMode=NO_CODEGEN`, compile failures,
  * constant folding in the optimizer) and the `doGenCode` call (the
  * whole-stage hot path) run. What the two paths do NOT share is the
  * wiring around that call — argument order, reference-object slots, null
  * slots, boxing — which unit tests that call `eval` directly never
  * exercise. A divergence there is the worst kind of bug: results
  * silently depend on which execution path the planner happened to pick.
  *
  * Each case runs the same plan twice — once forced through codegen
  * (`CODEGEN_ONLY` + whole-stage on), once forced interpreted
  * (`NO_CODEGEN` + whole-stage off) — and demands bit-identical collected
  * rows (Spark's `Row.equals` compares doubles bitwise, so this also pins
  * IEEE accumulation order). Inputs deliberately include the edge shapes:
  * NULLs (the `nullSafeCodeGen` slot), empty arrays/strings, length
  * mismatches, zero norms.
  */
class CodegenParitySpec extends SparkSpec with graft.IsolatedSession {

  private def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)

  private def collectWith(build: => DataFrame, wholeStage: String,
                          factoryMode: String): Seq[Row] = {
    val conf = spark.conf
    val exclKey = "spark.sql.optimizer.excludedRules"
    val oldWs = conf.get("spark.sql.codegen.wholeStage", "true")
    val oldFm = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val oldEx = conf.get(exclKey, "")
    conf.set("spark.sql.codegen.wholeStage", wholeStage)
    conf.set("spark.sql.codegen.factoryMode", factoryMode)
    // Without this, ConvertToLocalRelation evaluates a Project over these
    // Seq(...).toDF inputs at OPTIMIZATION time — interpreted eval in both
    // modes, and every parity assertion below is vacuous. The canary test
    // caught exactly this on first run.
    conf.set(exclKey,
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try build.orderBy("id").collect().toSeq
    finally {
      conf.set("spark.sql.codegen.wholeStage", oldWs)
      conf.set("spark.sql.codegen.factoryMode", oldFm)
      if (oldEx.isEmpty) conf.unset(exclKey) else conf.set(exclKey, oldEx)
    }
  }

  test("the harness itself detects divergence (mode toggles are live)") {
    // A probe whose eval and doGenCode deliberately disagree: if the two
    // conf toggles ever stop selecting real interpreted/codegen paths
    // (a Spark upgrade renaming the internal conf would do it silently),
    // every parity test below would pass vacuously. This one fails first.
    import spark.implicits._
    val df = Seq((1L, 1)).toDF("id", "x")
    def probed = df.select(col("id"),
      exprCol(DivergentProbe(ColumnBridge.expression(col("x")))).as("r"))
    val gen = collectWith(probed, "true", "CODEGEN_ONLY")
    val interp = collectWith(probed, "false", "NO_CODEGEN")
    assert(gen.head.getInt(1) === DivergentProbe.CodegenValue)
    assert(interp.head.getInt(1) === DivergentProbe.EvalValue)
  }

  /** Collect `df` under forced-codegen and forced-interpreted execution;
    * assert identical results and that the case isn't vacuous (at least
    * one non-null value came back). */
  private def assertParity(label: String, build: => DataFrame): Unit = {
    val gen = collectWith(build, "true", "CODEGEN_ONLY")
    val interp = collectWith(build, "false", "NO_CODEGEN")
    assert(gen.nonEmpty, s"$label: empty result makes the parity vacuous")
    assert(gen.exists(r => !r.isNullAt(1)),
      s"$label: all-NULL result makes the parity vacuous")
    assert(gen == interp,
      s"$label: codegen and interpreted paths disagree\n  codegen:     " +
        s"${gen.mkString(", ")}\n  interpreted: ${interp.mkString(", ")}")
  }

  private def texts: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, Some("the quick brown fox jumps over the lazy dog!")),
      (3L, Some("")),
      (4L, Some("   \n\t  ")),
      (5L, None: Option[String]),
      (6L, Some("ab")), // shorter than any gram width
      (7L, Some("dup line\ndup line\nunique line\ndup line")),
      (8L, Some("héllo wörld — ünïcode £§ 𝄞 text")),
      (9L, Some("a a a a a a a a a a a a a a a a"))
    ).toDF("id", "t")
  }

  private def floatPairs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(4.0f, 5.0f, 6.0f))),
      (2L, Some(Seq(0.0f, 0.0f, 0.0f)), Some(Seq(1.0f, 2.0f, 3.0f))), // zero norm → NULL
      (3L, Some(Seq.empty[Float]), Some(Seq.empty[Float])),           // empty → NULL
      (4L, None: Option[Seq[Float]], Some(Seq(1.0f, 2.0f, 3.0f))),    // NULL input
      (5L, Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f, 5.0f))),       // length mismatch
      (6L, Some(Seq(-1.5f, 2.25f, -3.75f)), Some(Seq(0.5f, -0.25f, 8.0f))),
      (7L, Some(Seq(1e30f, 1e-30f, 1.0f)), Some(Seq(1e-30f, 1e30f, -1.0f)))
    ).toDF("id", "a", "b")
  }

  private def doubleVecs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Some(Seq(0.1, -0.2, 0.3, 0.7))),
      (2L, Some(Seq(0.0, 0.0, 0.0, 0.0))),
      (3L, Some(Seq(5.0, 5.0))), // shorter than dim
      (4L, None: Option[Seq[Double]]),
      (5L, Some(Seq(-2.0, 1.0, -0.5, 0.25)))
    ).toDF("id", "v")
  }

  test("FloatCosine: codegen == interpreted (zero norm, empty, null, mismatch)") {
    assertParity("float_cosine",
      floatPairs.select(col("id"),
        exprCol(FloatCosine(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("r")))
  }

  test("IntDot: codegen == interpreted (empty, null, mismatch, negatives)") {
    import spark.implicits._
    val pairs = Seq(
      (1L, Some(Seq(1, -2, 3)), Some(Seq(4, 5, -6))),
      (2L, Some(Seq.empty[Int]), Some(Seq(1, 2))),
      (3L, Some(Seq(127, -127)), Some(Seq(127, 127))),
      (4L, None: Option[Seq[Int]], Some(Seq(1))),
      (5L, Some(Seq(7, 8, 9, 10)), Some(Seq(1, 1))) // length mismatch
    ).toDF("id", "a", "b")
    assertParity("int_dot",
      pairs.select(col("id"),
        exprCol(IntDot(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("r")))
  }

  test("GramHashes: codegen == interpreted (short text, empty, null, unicode)") {
    assertParity("gram_hashes",
      texts.select(col("id"),
        exprCol(GramHashes(ColumnBridge.expression(col("t")), k = 3)).as("r")))
  }

  test("GramHashes k=20 (t21's decontamination width): codegen == interpreted") {
    // k is a literal argument of the generated call; a wide window makes
    // every row of `texts` a short text (one whole-text gram)
    assertParity("gram_hashes_20",
      texts.select(col("id"),
        exprCol(GramHashes(ColumnBridge.expression(col("t")), k = 20)).as("r")))
  }

  test("MinHashSig: codegen == interpreted") {
    assertParity("minhash_sig",
      texts.select(col("id"),
        exprCol(MinHashSig(ColumnBridge.expression(col("t")))).as("r")))
  }

  test("SimHash64: codegen == interpreted") {
    assertParity("simhash64",
      texts.select(col("id"),
        exprCol(SimHash64(ColumnBridge.expression(col("t")))).as("r")))
  }

  test("RepetitionStats: codegen == interpreted (dup lines, empty, null)") {
    assertParity("repetition_stats",
      texts.select(col("id"),
        exprCol(RepetitionStats(ColumnBridge.expression(col("t")))).as("r")))
  }

  test("JaroWinkler: codegen == interpreted (empty, null, identical)") {
    import spark.implicits._
    val pairs = Seq(
      (1L, Some("martha"), Some("marhta")),
      (2L, Some("dwayne"), Some("duane")),
      (3L, Some(""), Some("abc")),
      (4L, Some(""), Some("")),
      (5L, None: Option[String], Some("x")),
      (6L, Some("identical"), Some("identical")),
      (7L, Some("héllo"), Some("hëllo"))
    ).toDF("id", "a", "b")
    assertParity("jaro_winkler",
      pairs.select(col("id"),
        exprCol(JaroWinkler(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("r")))
  }

  test("SortedIntersectSize: codegen == interpreted (empty, disjoint, null)") {
    import spark.implicits._
    val pairs = Seq(
      (1L, Some(Seq(1L, 3L, 5L, 9L)), Some(Seq(2L, 3L, 5L, 8L, 9L))),
      (2L, Some(Seq.empty[Long]), Some(Seq(1L, 2L))),
      (3L, Some(Seq(1L, 2L)), Some(Seq(3L, 4L))),
      (4L, None: Option[Seq[Long]], Some(Seq(1L))),
      (5L, Some(Seq(7L)), Some(Seq(7L)))
    ).toDF("id", "a", "b")
    assertParity("sorted_intersect_size",
      pairs.select(col("id"),
        exprCol(SortedIntersectSize(ColumnBridge.expression(col("a")),
          ColumnBridge.expression(col("b")))).as("r")))
  }

  test("LshBucketCodes: codegen == interpreted (short vector, zero, null)") {
    assertParity("lsh_bucket_codes",
      doubleVecs.select(col("id"),
        exprCol(LshBucketCodes(ColumnBridge.expression(col("v")),
          planesPerTable = 4, tables = 2, dim = 4, seed = 42L)).as("r")))
  }

  test("IvfCell + IvfCells: codegen == interpreted") {
    val cents = Array(
      Array(0.0, 0.0, 0.0, 0.0),
      Array(1.0, 1.0, 1.0, 1.0),
      Array(-1.0, 0.5, -0.5, 1.0),
      Array(0.1, -0.2, 0.3, 0.7)) // exact match for row 1 → dist 0 tie shape
    assertParity("ivf_cell",
      doubleVecs.select(col("id"),
        exprCol(IvfCell(ColumnBridge.expression(col("v")), cents)).as("r")))
    assertParity("ivf_cells",
      doubleVecs.select(col("id"),
        exprCol(IvfCells(ColumnBridge.expression(col("v")), cents,
          nprobe = 3)).as("r")))
  }

  // ── text-table expressions ─────────────────────────────────────────
  // Most of these pass a table to their kernel through addReferenceObj
  // (stopwords, BPE merges, unigram vocab, NB weights): wiring only a
  // forced-codegen run exercises.

  test("TokenStats: codegen == interpreted (reference-object stopwords)") {
    assertParity("token_stats",
      texts.select(col("id"),
        exprCol(TokenStats(ColumnBridge.expression(col("t")),
          TokenStats.enStopwords)).as("r")))
  }

  test("TokensOf: codegen == interpreted") {
    assertParity("tokens_of",
      texts.select(col("id"),
        exprCol(TokensOf(ColumnBridge.expression(col("t")))).as("r")))
  }

  test("StopwordCounts: codegen == interpreted (multi-set reference object)") {
    assertParity("stopword_counts",
      texts.select(col("id"),
        exprCol(StopwordCounts(ColumnBridge.expression(col("t")),
          graft.text.TextOps.langStopwords.map(_._2))).as("r")))
  }

  test("WinnowPrints: codegen == interpreted (short text, empty, null)") {
    assertParity("winnow_prints",
      texts.select(col("id"),
        exprCol(WinnowPrints(ColumnBridge.expression(col("t")),
          gramLen = 5, window = 3)).as("r")))
  }

  private def tinyMerges: Seq[(String, String)] =
    Bpe.train(Seq("the quick brown fox", "the quick lazy dog",
      "the the the quick quick"), numMerges = 10)

  test("BpeCount/BpeDocCount/BpeTokens: codegen == interpreted (BpeTable ref)") {
    val merges = tinyMerges
    assert(merges.nonEmpty, "degenerate merge table makes the parity weak")
    assertParity("bpe_count",
      texts.select(col("id"),
        exprCol(BpeCount(ColumnBridge.expression(col("t")), merges)).as("r")))
    assertParity("bpe_doc_count",
      texts.select(col("id"),
        exprCol(BpeDocCount(ColumnBridge.expression(col("t")), merges)).as("r")))
    // bpe_tokens expects a pretokenized word; feed lowered single words
    import spark.implicits._
    val words = Seq((1L, Some("the")), (2L, Some("quick")),
      (3L, Some("unseenword")), (4L, None: Option[String]), (5L, Some("")))
      .toDF("id", "t")
    assertParity("bpe_tokens",
      words.select(col("id"),
        exprCol(BpeTokens(ColumnBridge.expression(col("t")), merges)).as("r")))
  }

  test("UnigramDocStats: codegen == interpreted (vocab ref)") {
    val vocab = UnigramLm.train(Seq("the quick brown fox",
      "the quick lazy dog", "the the quick quick"), vocabSize = 50, rounds = 1)
    assertParity("unigram_doc_stats",
      texts.select(col("id"),
        exprCol(UnigramDocStats(ColumnBridge.expression(col("t")), vocab)).as("r")))
  }

  test("NbQualityScore: codegen == interpreted (NbTable ref)") {
    val table = NbQuality.train(Seq(
      ("the quick brown fox", true), ("the lazy dog sleeps", true),
      ("zzz qqq xxx spam spam", false), ("buy now click here", false)))
    assertParity("nb_quality_score",
      texts.select(col("id"),
        exprCol(NbQualityScore(ColumnBridge.expression(col("t")),
          table)).as("r")))
  }

  test("SpaceSavingTopK: whole-stage on == off (imperative aggregate)") {
    // TypedImperativeAggregate has no doGenCode, but the surrounding
    // aggregation machinery (ObjectHashAggregate vs sort-based fallback,
    // input projections) differs across modes — same parity bar applies.
    import spark.implicits._
    val words = Seq.tabulate(200) { i =>
      (i.toLong, if (i % 7 == 0) "heavy" else if (i % 3 == 0) "mid" else s"tail$i")
    }.toDF("wid", "w")
    assertParity("space_saving_topk",
      words.groupBy(lit(1L).as("id")).agg(
        exprCol(SpaceSavingTopK(ColumnBridge.expression(col("w")), k = 2)
          .toAggregateExpression).as("r")))
  }
}

/** Test-only expression whose interpreted and codegen paths deliberately
  * return different constants — the canary proving the parity harness's
  * conf toggles actually select distinct execution paths. */
case class DivergentProbe(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, IntegerType}

  override def dataType: DataType = IntegerType
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): DivergentProbe =
    copy(child = newChild)
  override def nullSafeEval(input: Any): Any = DivergentProbe.EvalValue
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, _ =>
      s"${ev.value} = ${DivergentProbe.CodegenValue};")
}

object DivergentProbe {
  val EvalValue = 1
  val CodegenValue = 2
}
