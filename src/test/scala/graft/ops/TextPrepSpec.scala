package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** TextPrep semantics on crafted fixtures: chunk coverage/overlap
  * arithmetic, PII regexes on real PII strings (the corpus fixture is
  * PII-free, so the DuckDB gate only proves the identity path), and
  * bigram surprisal's ordering property.
  */
class TextPrepSpec extends SparkTestBase {

  import spark.implicits._

  test("chunk: windows cover every token, overlap = size - stride") {
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextPrep.chunk(doc, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    // len 10, size 4, stride 3 → starts 0,3,6 → 3 chunks, last one full
    assert(chunks.map(_.getString(2)).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(chunks.map(_.getInt(3)).toSeq == Seq(4, 4, 4))
    // short doc: one (short) chunk, never padded
    val short = TextPrep.chunk(
      Seq((2L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 16, 12)
      .collect()
    assert(short.length == 1 && short.head.getString(2) == "a b")
    // ragged tail: last window short, still emitted
    val ragged = TextPrep.chunk(
      Seq((3L, (1 to 11).map("t" + _).mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text", 4, 3)
      .orderBy("chunk_idx").collect()
    assert(ragged.last.getString(2) == "t10 t11")
  }

  test("redactPii: emails, SSNs, phones, IPs tagged; counts reported") {
    val df = Seq(
      (1L, "contact alice.smith+x@example.co.uk for details"),
      (2L, "ssn is 123-45-6789 and phone +1 (555) 123-4567"),
      (3L, "server at 192.168.1.100 responded"),
      (4L, "no pii here at all"),
    ).toDF("doc_id", "text")
    val out = TextPrep.redactPii(df, "text")
      .select("doc_id", "text_redacted", "n_redactions")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(out(1L)._1 == "contact <EMAIL> for details")
    assert(out(2L)._1 == "ssn is <SSN> and phone <PHONE>")
    assert(out(3L)._1 == "server at <IP> responded")
    assert(out(4L) == ("no pii here at all", 0))
    assert(out(1L)._2 == 1 && out(2L)._2 == 2 && out(3L)._2 == 1)
  }

  test("BPE: merges learned by frequency with lexicographic ties, greedy overlap handling") {
    import spark.implicits._
    // "abab" x3, "aab" x2: pairs round 1 -> (a,b):8, (b,a):3, (a,a):2
    val docs = Seq("abab abab abab aab aab").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", nMerges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(merges(0) == (1, "a", "b", 8L), s"got ${merges(0)}")
    // after merging (a,b): abab -> [ab, ab], aab -> [a, ab]
    // round 2 pairs: (ab,ab):3, (a,ab):2 -> winner (ab,ab)
    assert(merges(1) == (2, "ab", "ab", 3L), s"got ${merges(1)}")
    // overlapping-run counting: [a,a,a] contributes (a,a) twice
    val runs = Seq("aaa aaa ba").toDF("text")
    val m2 = Bpe.learnMerges(runs, "text", nMerges = 1).collect()
    assert(m2(0).getString(1) == "a" && m2(0).getString(2) == "a")
    assert(m2(0).getLong(4) == 4L) // 2 pairs x 2 occurrences of "aaa"
  }

  test("BPE: nMerges beyond exhaustion returns learned merges, vocab intact") {
    import spark.implicits._
    // "ab" has exactly one mergeable pair; ask for 4 merges. The
    // exhausted rounds must be no-ops — NOT wipe the vocabulary (the
    // old crossJoin against an empty winner frame returned zero rows
    // everywhere downstream with no error).
    val docs = Seq("ab ab c").toDF("text")
    val merges = Bpe.learnMerges(docs, "text", nMerges = 4).collect()
    assert(merges.length == 1 &&
      merges(0).getString(1) == "a" && merges(0).getString(2) == "b")
    val enc = Bpe.encodedCounts(docs, "text", "text", nMerges = 4).collect()
    assert(enc.nonEmpty)
    // 3 words, 5 chars, post-merge tokens: [ab], [ab], [c] -> 3
    assert(enc(0).getLong(1) == 3L && enc(0).getLong(2) == 5L &&
      enc(0).getLong(3) == 3L)
  }

  test("bigram surprisal: repetitive text scores lower than shuffled vocab") {
    // one doc repeats a single bigram; the other cycles many rare ones —
    // under the corpus LM the repetitive doc must be less surprising
    val rep = ("ab " * 50).trim.replace("ab", "a b")
    val rare = (1 to 50).map(i => s"x$i y$i").mkString(" ")
    val df = Seq((1L, rep), (2L, rare)).toDF("doc_id", "text")
    val out = TextPrep.bigramSurprisal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) < out(2L),
      s"repetitive ${out(1L)} should beat rare ${out(2L)}")
    // docs under 2 tokens produce no bigrams and drop out
    val tiny = TextPrep.bigramSurprisal(
      Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
    assert(tiny.count() == 0)
  }

  test("surprisal shuffles are vocabulary-bounded (no corpus-bytes join)") {
    val docs = Tables.table(spark, Sf0001, "documents")
    val out = TextPrep.bigramSurprisal(docs, "doc_id", "text")
    assert(out.count() > 0)
    // every returned doc has n_bigrams = token_count - 1
    val joined = out.join(
      docs.select(col("doc_id"),
        (size(TextAnalysis.tokens(col("text"))) - 1).as("expected")),
      "doc_id")
    assert(joined.filter(col("n_bigrams") =!= col("expected")).count() == 0)
  }

  test("canonicalUrl: variants collapse, non-defaults survive, idempotent") {
    def canon(urls: String*): Seq[String] =
      urls.zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "url")
        .select(TextPrep.canonicalUrl(col("url")))
        .as[String].collect().toSeq
    // case/port/www/fragment/trailing-slash/tracking/param-order variants
    assert(canon(
      "HTTP://WWW.Example.com:80/a/b/?utm_source=x&b=2&a=1#frag",
      "http://example.com/a/b?a=1&b=2").distinct.size == 1)
    assert(canon("https://Example.COM:443/", "https://example.com")
      == Seq("https://example.com/", "https://example.com/"))
    // real non-default port survives; https does NOT strip :80
    assert(canon("http://example.com:8080/x") == Seq("http://example.com:8080/x"))
    assert(canon("https://example.com:80/x") == Seq("https://example.com:80/x"))
    // param sorting and tracking removal; empty query dropped entirely
    assert(canon("https://a.io/p?z=1&y=2&x=3") == Seq("https://a.io/p?x=3&y=2&z=1"))
    assert(canon("https://a.io/p?utm_medium=email&gclid=1")
      == Seq("https://a.io/p"))
    // idempotence: canon(canon(u)) == canon(u)
    val once = canon("HTTP://WWW.Example.com:80/a/b/?utm_source=x&b=2&a=1#f")
    assert(canon(once.head) == once)
  }

  test("UnicodeNorm: NFC collapses spellings, accent fold, SQL surface") {
    import graft.functions.UnicodeNorm
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = "Café menu"
    val precomposed = "Café menu"
    // direct (interpreted) path
    assert(UnicodeNorm.toNfc(UTF8String.fromString(decomposed)).toString
      == precomposed)
    val ascii = UTF8String.fromString("plain ascii")
    assert(UnicodeNorm.toNfc(ascii) eq ascii) // short-circuit, no copy
    assert(UnicodeNorm.removeAccents(UTF8String.fromString(precomposed))
      .toString == "Cafe menu")
    // U+212B ANGSTROM SIGN: NFC → U+00C5; fold → plain A
    assert(UnicodeNorm.toNfc(UTF8String.fromString("Å")).toString == "Å")
    assert(UnicodeNorm.removeAccents(UTF8String.fromString("Å")).toString == "A")
    // mark categories beyond Mn, matching utf8proc STRIPMARK (probed in
    // DuckDB): Mc spacing vowel sign U+093E, Me enclosing circle U+20DD
    assert(UnicodeNorm.removeAccents(
      UTF8String.fromString("का")).toString == "क")
    assert(UnicodeNorm.removeAccents(
      UTF8String.fromString("a⃝")).toString == "a")
    // codegen path through a DataFrame projection
    val df = Seq((1, decomposed), (2, precomposed)).toDF("id", "t")
      .select(UnicodeNorm.nfc(col("t")).as("n"),
        UnicodeNorm.stripAccents(col("t")).as("f"))
    assert(df.as[(String, String)].collect().toSet
      == Set((precomposed, "Cafe menu")))
    // SQL front-end registration
    graft.util.Sessions.tune(spark)
    val viaSql = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS n, strip_accents('$decomposed') AS f")
      .as[(String, String)].head()
    assert(viaSql == ((precomposed, "Cafe menu")))
  }

  test("flagBlockedDomains: exact + subdomain hit, lookalikes survive") {
    val urls = Seq(
      (1, "https://example.com/a"),        // exact
      (2, "https://sub.example.com/b"),    // subdomain
      (3, "https://notexample.com/c"),     // LOOKALIKE — must survive
      (4, "http://www.example.com:80/d"),  // www + port still the domain
      (5, "https://clean.org/e"),
    ).toDF("id", "url")
    val bl = Seq("example.com").toDF("domain")
    val got = TextPrep.flagBlockedDomains(urls, "url", bl)
      .select("id", "blocked").as[(Int, Boolean)].collect().toMap
    assert(got == Map(1 -> true, 2 -> true, 3 -> false, 4 -> true, 5 -> false))
    // suffix enumeration itself
    val sfx = Seq(Tuple1("a.b.co")).toDF("h")
      .select(TextPrep.domainSuffixes(col("h"))).as[Seq[String]].head()
    assert(sfx == Seq("a.b.co", "b.co", "co"))
  }

  test("zipfFit: exact power law recovers its slope; uniform counts fit 0") {
    // counts 16, 4 at ranks 1, 2: ln c = ln 16 + s·ln r with s = -2
    val text = (Seq.fill(16)("aa") ++ Seq.fill(4)("bb")).mkString(" ")
    val fit = TextAnalysis.zipfFit(
      Seq(("s1", text)).toDF("source", "text"), "source", "text", topK = 10)
      .collect().head
    assert(fit.getLong(1) == 2) // k: two distinct tokens
    assert(math.abs(fit.getDouble(2) - (-2.0)) < 1e-5)
    // equal counts: flat line — slope 0 up to the r6 term-rounding
    // residue (x·y is rounded before the moment sums, so the numerator
    // can carry ≤5e-7 per term instead of cancelling exactly)
    val flat = TextAnalysis.zipfFit(
      Seq(("s1", "a b c d a b c d")).toDF("source", "text"),
      "source", "text", topK = 10).collect().head
    assert(math.abs(flat.getDouble(2)) <= 1e-6)
  }

  // ---- TextPrep.removeDuplicateChunks -------------------------------------

  test("removeDuplicateChunks: shared chunks drop, order is preserved") {
    val docs = Seq(
      (1L, "a b c d"),        // [a b] shared with doc 2 → "c d" survives
      (2L, "a b x y"),
      (3L, "p q r s"),        // untouched
      (4L, "k1 k2 a b k3 k4"), // interior removal keeps flank order
      (5L, "a b z z"),
    ).toDF("doc_id", "text")
    val got = TextPrep.removeDuplicateChunks(docs, "doc_id", "text",
        chunkSize = 2, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L) == (("c d", 2L, 1L, 0.5)))
    assert(got(3L) == (("p q r s", 2L, 0L, 0.0)))
    assert(got(4L) == (("k1 k2 k3 k4", 3L, 1L, 0.333333)))
    assert(got(5L) == (("z z", 2L, 1L, 0.5)))
  }

  test("removeDuplicateChunks: an empty-text doc survives as one unique chunk") {
    // "" tokenizes to one empty token → ONE chunk with df = 1 (kept);
    // both engines agree (string_split('', ' ') = ['']), and the doc
    // must stay in the cleaned corpus either way
    val docs = Seq((1L, ""), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextPrep.removeDuplicateChunks(docs, "doc_id", "text",
        chunkSize = 2, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L) == (("", 1L, 0L, 0.0)))
    assert(got(2L) == (("", 1L, 1L, 1.0)))
  }

  test("removeDuplicateChunks: a fully boilerplate doc empties cleanly") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextPrep.removeDuplicateChunks(docs, "doc_id", "text",
        chunkSize = 2, minDf = 2)
      .collect().map(r => (r.getString(1), r.getLong(3), r.getDouble(4)))
    assert(got.forall(_ == (("", 1L, 1.0))))
  }
}
