package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens / tokenCount handle empty and multi-space text") {
    val df = Seq("Hello  World", "", "   ", "one").toDF("text")
    val n = df.select(TF.tokenCount(col("text"))).as[Long].collect().toSeq
    assert(n == Seq(2L, 0L, 0L, 1L))
  }

  test("bpeTokenCount counts alpha runs, digit runs, punct marks") {
    val df = Seq("ab12 cd!", "").toDF("text")
    val n = df.select(TF.bpeTokenCount(col("text"))).as[Long].collect().toSeq
    // ab | 12 | cd | !
    assert(n == Seq(4L, 0L))
  }

  test("alphaRatio and meanTokenLen") {
    val df = Seq("abcd12", "").toDF("text")
    val r = df.select(TF.alphaRatio(col("text")), TF.meanTokenLen(col("text")))
      .as[(Double, Double)].collect().toSeq
    assert(math.abs(r.head._1 - 4.0 / 6.0) < 1e-9)
    assert(r.head._2 == 6.0)
    assert(r(1) == ((0.0, 0.0)))
  }

  test("bigrams are adjacent token pairs; short docs yield empty") {
    val df = Seq("a b c d", "solo", "").toDF("text")
    val r = df.select(TF.bigrams(col("text"))).as[Seq[String]].collect().toSeq
    assert(r.head == Seq("a b", "b c", "c d"))
    assert(r(1) == Seq.empty)
    assert(r(2) == Seq.empty)
  }

  test("maxMultiplicity is the mode count; dupTokenFrac the repeat share") {
    val df = Seq("a b a c a b", "x y z", "").toDF("text")
    val m = df.select(TF.maxMultiplicity(TF.tokens(col("text"))))
      .as[Long].collect().toSeq
    assert(m == Seq(3L, 1L, 0L)) // "a" ×3; all distinct; empty
    val f = df.select(TF.dupTokenFrac(col("text"))).as[Double].collect().toSeq
    assert(math.abs(f.head - 0.5) < 1e-9) // 6 tokens, 3 distinct
    assert(f(1) == 0.0 && f(2) == 0.0)
    // bigram mode: "a b" appears twice of 5 bigrams
    val bm = df.select(TF.maxMultiplicity(TF.bigrams(col("text"))))
      .as[Long].collect().toSeq
    assert(bm == Seq(2L, 1L, 0L))
  }

  test("stopwordRatio") {
    val df = Seq("the cat and the hat").toDF("text")
    val r = df.select(TF.stopwordRatio(col("text"), Seq("the", "and")))
      .as[Double].head()
    assert(math.abs(r - 3.0 / 5.0) < 1e-9)
  }

  test("langId picks argmax, und when no markers") {
    val markers = Seq("en" -> Seq("the"), "es" -> Seq("el", "la"))
    val df = Seq("the dog", "el perro la casa", "xyzzy").toDF("text")
    val r = df.select(TF.langId(col("text"), markers)).as[String].collect().toSeq
    assert(r == Seq("en", "es", "und"))
  }

  test("shingles: k-grams distinct, short docs give whole-text shingle") {
    val df = Seq("a b c d", "a b").toDF("text")
    val r = df.select(TF.shingles(col("text"), 3)).as[Seq[String]].collect().toSeq
    assert(r.head.toSet == Set("a b c", "b c d"))
    assert(r(1) == Seq("a b"))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val df = Seq("abc", "abc", "acb").toDF("text")
    val r = df.select(TF.fingerprint(col("text"))).as[Long].collect().toSeq
    assert(r(0) == r(1))
    assert(r(0) != r(2))
  }

  test("vector dot/cosine/l2") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 2.0f))).toDF("a", "b")
    val r = df.select(
      VF.dot(col("a"), col("b")), VF.cosine(col("a"), col("a")),
      VF.l2(col("a"), col("b"))).as[(Double, Double, Double)].head()
    assert(r._1 == 0.0)
    assert(math.abs(r._2 - 1.0) < 1e-12)
    assert(math.abs(r._3 - math.sqrt(5.0)) < 1e-12)
  }

  test("native cosine_sim matches the HOF form and handles null/mismatch") {
    val emb = Tables.embeddings(spark, sf()).limit(50)
    val pairs = emb.as("l").crossJoin(emb.as("r"))
      .select(
        VF.cosine(col("l.embedding"), col("r.embedding")).as("native"),
        VF.cosineHof(col("l.embedding"), col("r.embedding")).as("hof"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, h) => assert(math.abs(n - h) < 1e-12, s"$n vs $h") }

    val edge = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)), // length mismatch
      (null, Seq(1.0f, 2.0f))                   // null array
    ).toDF("a", "b")
    val out = edge.select(VF.cosine(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("minhash64 native is bit-identical to the builtin HOF composition") {
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "one two")).toDF("doc_id", "text"))
    val withHashes = docs.select(col("doc_id"), array_distinct(
      transform(TF.shingles(col("text"), 3), sh => xxhash64(sh))).as("hs"))
    val both = withHashes.select(
      call_function("minhash64", col("hs"), lit(64)).as("native"),
      transform(sequence(lit(0), lit(63)),
        s => array_min(transform(col("hs"), h => xxhash64(h, s)))).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("shingle_hash64 native is bit-identical to the HOF composition") {
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "one two"), (100003L, "a b c d a b c d"))
        .toDF("doc_id", "text"))
    val both = docs.select(
      call_function("shingle_hash64", TF.tokens(col("text")), lit(3)).as("native"),
      array_distinct(transform(TF.shingles(col("text"), 3), sh => xxhash64(sh))).as("hof"))
    assert(both.filter(!(col("native") <=> col("hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("ngram_hash64 / trigram_hash_bundle are bit-identical to the HOF forms") {
    // the exact swap q_backoff_logprob made in r13: the native chained
    // n-gram sweeps must reproduce the builtin multi-argument xxhash64
    // per position (seed 42, chained) on real corpus text + edge docs
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "one"), (100003L, "one two"),
        (100004L, "a b c"), (100005L, "a b c d a b c d"))
        .toDF("doc_id", "text"))
    def hofTri(toks: org.apache.spark.sql.Column) =
      when(size(toks) < 3, array().cast(
          "array<struct<h3:bigint,h12:bigint,h23:bigint,hw2:bigint,hw3:bigint>>"))
        .otherwise(transform(sequence(lit(1), size(toks) - 2), i => {
          val (w1, w2, w3) =
            (element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
          struct(xxhash64(w1, w2, w3).as("h3"), xxhash64(w1, w2).as("h12"),
            xxhash64(w2, w3).as("h23"), xxhash64(w2).as("hw2"),
            xxhash64(w3).as("hw3"))
        }))
    def hofNgram(toks: org.apache.spark.sql.Column, n: Int) =
      when(size(toks) < n, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)), i =>
          xxhash64((0 until n).map(j => element_at(toks, i + j)): _*)))
    val both = docs.select(
      call_function("ngram_hash64", TF.tokens(col("text")), lit(2)).as("bi_native"),
      TF.bindOnce(TF.tokens(col("text")), t => hofNgram(t, 2)).as("bi_hof"),
      call_function("ngram_hash64", TF.tokens(col("text")), lit(3)).as("tri_native"),
      TF.bindOnce(TF.tokens(col("text")), t => hofNgram(t, 3)).as("tri_hof"),
      call_function("trigram_hash_bundle", TF.tokens(col("text"))).as("bundle_native"),
      TF.bindOnce(TF.tokens(col("text")), t => hofTri(t)).as("bundle_hof"))
    assert(both.filter(!(col("bi_native") <=> col("bi_hof")) ||
      !(col("tri_native") <=> col("tri_hof")) ||
      !(col("bundle_native") <=> col("bundle_hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("ngram_repetition top_cnt is bit-identical to the HOF composition") {
    // the exact swap q_repetition_stats made in r9: native top_cnt at
    // k=1/k=2 must reproduce the interpreted TF.maxMultiplicity path
    // over TF.tokens / TF.bigrams on real corpus text + edge docs
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id"), col("text"))
      .union(Seq((100001L, ""), (100002L, "solo"), (100003L, "a b a c a b"),
        (100004L, "a a a a a a")).toDF("doc_id", "text"))
    val both = docs.select(
      call_function("ngram_repetition", TF.tokens(col("text")), lit(1))
        .getField("top_cnt").as("uni_native"),
      TF.maxMultiplicity(TF.tokens(col("text"))).as("uni_hof"),
      call_function("ngram_repetition", TF.tokens(col("text")), lit(2))
        .getField("top_cnt").as("bi_native"),
      TF.maxMultiplicity(TF.bigrams(col("text"))).as("bi_hof"))
    assert(both.filter(!(col("uni_native") <=> col("uni_hof")) ||
      !(col("bi_native") <=> col("bi_hof"))).count() == 0)
    assert(both.count() > 100)
  }

  test("ngram_repetition total_chars matches join length; dup_chars bounded") {
    val docs = Tables.documents(spark, sf()).select(col("text"))
    val st = call_function("ngram_repetition", TF.tokens(col("text")), lit(2))
    val checked = docs.select(
      st.getField("total_chars").as("tc"),
      st.getField("dup_chars").as("dc"),
      length(concat_ws(" ", TF.tokens(col("text")))).cast("long").as("joined"))
    assert(checked.filter(col("tc") =!= col("joined")).count() == 0)
    // span-union Gopher semantics: a character is counted at most once,
    // so the duplicate-char fraction can never exceed 1.0 (the r8
    // sum-of-occurrences form could: 6x"a" at k=2 gave 12/11)
    assert(checked.filter(col("dc") > col("tc")).count() == 0)
  }

  test("ngram_repetition literal cases: spans, ties, nulls, short docs") {
    def stats(tokens: Seq[String], k: Int): (Long, Long, Long, Long) = {
      val r = Seq(Tuple1(tokens)).toDF("ts")
        .select(call_function("ngram_repetition", col("ts"), lit(k)).as("s"))
        .select("s.top_cnt", "s.top_len", "s.dup_chars", "s.total_chars")
        .as[(Long, Long, Long, Long)].collect().head
      r
    }
    // the ADVICE counter-example: 6 tokens "a", k=2 — every bigram "a a"
    // duplicated, spans cover the whole 11-char join exactly once
    assert(stats(Seq("a", "a", "a", "a", "a", "a"), 2) == ((5L, 3L, 11L, 11L)))
    // disjoint duplicated spans: "a b x a b" at k=2 — "a b" twice,
    // spans [0,3) and [6,9): 6 duplicated chars of 9
    assert(stats(Seq("a", "b", "x", "a", "b"), 2) == ((2L, 3L, 6L, 9L)))
    // tie at count 1: binary-smallest k-gram wins (deterministic top_len)
    assert(stats(Seq("bb", "a"), 1) == ((1L, 1L, 0L, 4L)))
    // null elements skipped like concat_ws (ShingleHash64 rule)
    assert(stats(Seq("a", null, "b"), 1) == ((1L, 1L, 0L, 3L)))
    assert(stats(Seq(null, null), 2) == ((0L, 0L, 0L, 0L)))
    // fewer than k tokens: no k-grams, total still measured
    assert(stats(Seq("abc"), 2) == ((0L, 0L, 0L, 3L)))
    assert(stats(Seq.empty[String], 1) == ((0L, 0L, 0L, 0L)))
  }

  test("srpBucket deterministic; identical vectors share a bucket") {
    val df = Seq(
      (1L, Seq.tabulate(8)(i => i.toFloat)),
      (2L, Seq.tabulate(8)(i => i.toFloat)),
      (3L, Seq.tabulate(8)(i => -i.toFloat))
    ).toDF("vec_id", "embedding")
    val b = df.select(VF.srpBucket(col("embedding"), planes = 8))
      .as[Long].collect().toSeq
    assert(b(0) == b(1))
    assert(b(0) != b(2)) // opposite vector flips every nonzero projection
  }

  test("nfc_normalize composes decomposed text; identity fast paths; null") {
    val composed = "caf\u00E9"
    val df = Seq(
      Some("cafe\u0301"),     // decomposed -> composed \u00E9
      Some(composed),          // already NFC, non-ASCII -> unchanged
      Some("plain ascii"),     // ASCII fast path
      None: Option[String]
    ).toDF("text")
    val out = df.select(
        call_function("nfc_normalize", col("text")).as("n"),
        length(call_function("nfc_normalize", col("text"))).as("len"))
      .collect().toSeq
    assert(out(0).getString(0) === composed && out(0).getInt(1) === 4)
    assert(out(1).getString(0) === composed)
    assert(out(2).getString(0) === "plain ascii")
    assert(out(3).isNullAt(0) && out(3).isNullAt(1))
    // interpreted eval agrees with codegen (the ShingleHash64 pattern)
    import graft.functions.NfcNormalize
    import org.apache.spark.unsafe.types.UTF8String
    assert(NfcNormalize.nfc(UTF8String.fromString("cafe\u0301")).toString
      === composed)
    // the ASCII fast path returns the same reference, not a copy
    val ascii = UTF8String.fromString("abc")
    assert(NfcNormalize.nfc(ascii) eq ascii)
  }

  test("vocab_term_counts: equals the explode+semi-join+groupBy form") {
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c", "a")),
      (2L, Seq("b", "b")),
      (3L, Seq.empty[String]),
      (4L, Seq("z", "z", "q"))).toDF("doc_id", "toks")
    val vocab = Seq("a", "b", "q")
    val native = docs.select(col("doc_id"),
      explode(call_function("vocab_term_counts", col("toks"),
        array(vocab.map(lit): _*))))
      .select(col("doc_id"), col("key"), col("value"))
      .as[(Long, String, Long)].collect().toSet
    val composed = docs.select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t").isin(vocab.map(x => x: Any): _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .as[(Long, String, Long)].collect().toSet
    assert(native === composed, s"$native vs $composed")
    assert(native === Set((1L, "a", 3L), (1L, "b", 1L), (2L, "b", 2L),
      (4L, "q", 1L)))
    // empty vocabulary → empty maps, no rows
    assert(docs.select(col("doc_id"),
      explode(call_function("vocab_term_counts", col("toks"),
        array().cast("array<string>")))).count() === 0)
  }

  test("vocab_term_counts: column vocabulary (Dyn) equals the literal form") {
    // the q_retrieval_eval r13 swap: the vocabulary arrives as a
    // broadcast 1-row aggregate column instead of a plan-time literal
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c", "a")),
      (2L, Seq("b", "b")),
      (3L, Seq.empty[String]),
      (4L, Seq("z", "z", "q"))).toDF("doc_id", "toks")
    val vocab = Seq("a", "b", "q")
    val vocabRow = Seq(Tuple1(vocab)).toDF("__vocab")
    val dyn = docs.crossJoin(broadcast(vocabRow))
      .select(col("doc_id"),
        explode(call_function("vocab_term_counts", col("toks"), col("__vocab"))))
      .select(col("doc_id"), col("key"), col("value"))
      .as[(Long, String, Long)].collect().toSet
    assert(dyn === Set((1L, "a", 3L), (1L, "b", 1L), (2L, "b", 2L),
      (4L, "q", 1L)))
    // per-row DIFFERENT vocabularies exercise the cache-rebuild path:
    // each row is counted under its own vocabulary, never a stale set
    val perRow = Seq(
      (1L, Seq("a", "b", "a"), Seq("a")),
      (2L, Seq("a", "b", "a"), Seq("b")),
      (3L, Seq("a", "b", "a"), Seq("a", "b"))).toDF("doc_id", "toks", "voc")
      .repartition(1) // one task, one thread: consecutive distinct vocabs
      .select(col("doc_id"),
        explode(call_function("vocab_term_counts", col("toks"), col("voc"))))
      .select(col("doc_id"), col("key"), col("value"))
      .as[(Long, String, Long)].collect().toSet
    assert(perRow === Set((1L, "a", 2L), (2L, "b", 1L),
      (3L, "a", 2L), (3L, "b", 1L)))
    // empty vocabulary column → empty maps, no rows
    val emptyRow = Seq(Tuple1(Seq.empty[String])).toDF("__vocab")
    assert(docs.crossJoin(broadcast(emptyRow))
      .select(explode(call_function("vocab_term_counts", col("toks"),
        col("__vocab")))).count() === 0)
  }

  test("vocab_term_counts: a NULL vocabulary counts nothing in both forms") {
    val docs = Seq((1L, Seq("a", "b")), (2L, null)).toDF("doc_id", "toks")
      .withColumn("voc", lit(null).cast("array<string>"))
    val literal = call_function("vocab_term_counts", col("toks"),
      lit(null).cast("array<string>"))
    val column = call_function("vocab_term_counts", col("toks"), col("voc"))
    // a projection over a local frame is evaluated interpreted; after
    // an exchange, by generated code
    for (df <- Seq(docs, docs.repartition(1)); (form, e) <- Seq("literal" -> literal,
        "column" -> column)) {
      val got = df.select(col("doc_id"), when(e.isNull, -1).otherwise(size(e)).as("n"))
        .orderBy("doc_id").select("n").as[Int].collect().toSeq
      // a NULL vocabulary is empty; NULL tokens stay NULL (-1)
      assert(got === Seq(0, -1), form)
    }
  }

  test("unicodeClean: spaces mapped, zero-width and controls deleted, NFC first") {
    val df = Seq(
      "a\u00A0b",              // NBSP -> plain space
      "a\u200Bb\uFEFFc",      // zero-width space + BOM deleted
      "a\u0007b\tc\nd",      // BEL deleted, tab/newline KEPT
      "cafe\u0301\u3000x",    // NFC composes, ideographic space maps
      "x\u200Cy\u200Dz"       // ZWNJ/ZWJ are orthography — KEPT
    ).toDF("text")
    val out = df.select(TF.unicodeClean(col("text"))).as[String].collect().toSeq
    assert(out === Seq("a b", "abc", "ab\tc\nd", "caf\u00E9 x",
      "x\u200Cy\u200Dz"))
  }
}
