package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{Bpe, Native}
import graft.queries.TextQueries

/** Trained-BPE tokenizer (t37): train determinism, the hand-worked apply
  * fixpoint, and engine-vs-reference-impl parity through the registered
  * codegen expression. */
class BpeSpec extends SparkSpec {

  test("apply: leftmost lowest-rank merge per step, to fixpoint") {
    val ranks = Bpe.toRanks(Seq("h" -> "e", "l" -> "l", "he" -> "ll"))
    // hello = h e l l o</w> -> he l l -> he ll -> hell ; o</w> remains
    assert(Bpe.countTokens("hello", ranks) == 2)
    // he = h e</w>: ("h","e") does NOT apply to the fused final symbol
    assert(Bpe.countTokens("he", ranks) == 2)
    // single char is already one fused token; empty is zero
    assert(Bpe.countTokens("x", ranks) == 1)
    assert(Bpe.countTokens("", ranks) == 0)
    // llll = l l l l</w> -> ll l l</w>; neither (ll,l) nor (l,l</w>) is
    // trained, so the fixpoint is [ll, l, l</w>]
    assert(Bpe.countTokens("llll", Bpe.toRanks(Seq("l" -> "l"))) == 3)
  }

  test("apply on repeated symbols merges leftmost-first, stepwise") {
    // aaaa = a a a a</w>; merge ("a","a"): -> aa a a</w> -> aa aa? no —
    // second pair is (a, a</w>) which is NOT in the table -> aa a a</w>
    // then (aa, a)? not in table either. Fixpoint: [aa, a, a</w>] = 3
    val ranks = Bpe.toRanks(Seq("a" -> "a"))
    assert(Bpe.countTokens("aaaa", ranks) == 3)
    // with the fused-tail merge too, the tail collapses further:
    // a a a a</w> -> aa a a</w> -> aa a a</w> ... ("a","a</w>") rank 1:
    // -> aa aa</w> -> fixpoint ("aa","aa</w>") untrained -> 2
    val ranks2 = Bpe.toRanks(Seq("a" -> "a", "a" -> "a</w>"))
    assert(Bpe.countTokens("aaaa", ranks2) == 2)
  }

  test("train: deterministic, and learns the dominant pair first") {
    val corpus = Seq("aa aa aa bc", "aa bc bc")
    val m1 = Bpe.train(corpus, 10)
    val m2 = Bpe.train(corpus, 10)
    assert(m1 == m2, "training must be deterministic")
    // 'aa' occurs 4x as (a, a</w>); 'bc' 3x as (b, c</w>) — the most
    // frequent adjacent pair trains first
    assert(m1.head == ("a" -> "a</w>"), s"got $m1")
    assert(m1.contains("b" -> "c</w>"))
    val ranks = Bpe.toRanks(m1)
    assert(Bpe.countTokens("aa", ranks) == 1)
    assert(Bpe.countTokens("bc", ranks) == 1)
  }

  test("train ignores singleton pairs (no generalizable signal)") {
    // every word unique, every pair count 1 -> empty merge table
    assert(Bpe.train(Seq("xy zq"), 10).isEmpty)
  }

  test("engine layout matches the reference impl word-for-word, and " +
    "compresses below character count") {
    import spark.implicits._
    val texts = Seq(
      1L -> "the cat and the hat and the bat",
      2L -> "the the the and and cat",
      3L -> "Hatter's hat, and THE cat!",
      4L -> "")
    val docs = texts.toDF("doc_id", "text")
    val merges = Bpe.train(texts.map(_._2), 50)
    assert(merges.nonEmpty)
    val ranks = Bpe.toRanks(merges)
    val want = texts.map { case (id, t) =>
      val ws = Bpe.pretokenize(t)
      (id, ws.size.toLong,
        ws.map(w => Bpe.countTokens(w, ranks).toLong).sum)
    }.filter(_._2 > 0).toSet
    val got = TextQueries.bpeLayout(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got $got want $want")
    // trained units compress: strictly fewer tokens than characters for
    // the repetitive docs (the point of training)
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(1L) < texts.head._2.count(_ != ' '),
      s"no compression: ${byId(1L)}")
  }

  test("bpe_doc_count: whole-text sum of per-word counts through the " +
    "registered codegen scalar; null -> null, word-free -> 0") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the cat and the hat"),
      (2L, "Hatter's hat, THE cat!"),
      (3L, ""),        // no words
      (4L, "?!... "),  // punctuation only
      (5L, null))
    val merges = Bpe.train(texts.map(_._2).filter(_ != null), 50)
    val ranks = Bpe.toRanks(merges)
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"), Native.bpeDocCount(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    texts.foreach { case (id, t) =>
      val want =
        if (t == null) None
        else Some(Bpe.pretokenize(t)
          .map(w => Bpe.countTokens(w, ranks).toLong).sum)
      assert(got(id) == want, s"doc $id: got ${got(id)} want $want")
    }
    assert(got(3L) == Some(0L) && got(4L) == Some(0L) && got(5L).isEmpty)
  }

  test("BpeTable memo: cached and uncached paths agree word-for-word, " +
    "repeated lookups included") {
    val merges = Bpe.train(Seq("the cat and the hat and the bat",
      "the the the and and cat"), 50)
    val t = new graft.functions.BpeTable(merges)
    val words = Seq("the", "cat", "hat", "and", "the", "cat", "zzz", "a")
    words.foreach { w =>
      assert(Bpe.countTokens(w, t) == Bpe.countTokens(w, t.ranks),
        s"count memo diverged on $w")
      val cached = Bpe.tokenIds(w, t).toIntArray().toSeq
      val plain = Bpe.tokenIds(w, t.ranks, t.ids).toIntArray().toSeq
      assert(cached == plain, s"id memo diverged on $w")
    }
    // second pass hits the cache for every word — values identical
    words.foreach { w =>
      assert(Bpe.countTokens(w, t) == Bpe.countTokens(w, t.ranks))
    }
    assert(t.counts.size() > 0 && t.idSeqs.size() > 0, "memo never filled")
  }

  test("vocab: 74 fixed base ids, then distinct merge outputs in merge " +
    "order — first merge wins a duplicate concatenation") {
    // (b,c)->bc, (a,bc)->abc, (a,b)->ab, (ab,c)->abc AGAIN: one entry,
    // at the FIRST derivation's position
    val merges = Seq("b" -> "c", "a" -> "bc", "a" -> "b", "ab" -> "c")
    val v = Bpe.vocab(merges)
    assert(v.length == 74 + 3, s"got ${v.length}")
    assert(v.distinct == v, "vocab must be duplicate-free")
    assert(v(0) == "'" && v(1) == "'" + Bpe.EndMark)
    assert(v(72) == "z" && v(73) == "z" + Bpe.EndMark)
    assert(v(74) == "bc" && v(75) == "abc" && v(76) == "ab")
    // id lookup agrees with the sequence
    val ids = Bpe.toIds(merges)
    assert(ids.get("abc").intValue == 75 && ids.get("ab").intValue == 76)
  }

  test("bpe_tokens: id sequence decodes back to the word, length equals " +
    "bpe_count, unknown symbol maps to -1") {
    import spark.implicits._
    val texts = Seq(
      (1L, "the cat and the hat and the bat"),
      (2L, "Hatter's hat, THE cat!"))
    val merges = Bpe.train(texts.map(_._2), 50)
    val v = Bpe.vocab(merges)
    val ranks = Bpe.toRanks(merges)
    val rows = texts.toDF("doc_id", "text")
      .select(explode(split(lower(col("text")), "[^a-z0-9']+")).as("w"))
      .where(length(col("w")) > 0)
      .select(col("w"), Native.bpeTokens(col("w"), merges).as("ids"),
        Native.bpeCount(col("w"), merges).as("n"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getString(0)
      val ids = r.getSeq[Int](1)
      assert(ids.length == r.getInt(2), s"$w: length != bpe_count")
      // decode: vocab strings concatenated == word with EndMark fused
      val decoded = ids.map(v(_)).mkString
      assert(decoded == w + Bpe.EndMark, s"$w decoded to $decoded")
      // parity with the plain-Scala fixpoint
      assert(ids.map(v(_)) == Bpe.applySyms(w, ranks).toSeq, s"$w syms")
    }
    // raw un-pretokenized input: 'C' is outside the closed alphabet
    val ranksE = Bpe.toRanks(merges)
    val bad = Bpe.tokenIds("Cat", ranksE, Bpe.toIds(merges))
    assert(bad.toIntArray()(0) == -1, "unknown symbol must map to -1")
  }
}
