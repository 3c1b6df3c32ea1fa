package graft

import graft.engine.{Artifacts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The planted fixtures the text, dedup and pipeline queries read.
  *
  * The generated corpus is single-line lowercase ASCII with no URLs, markup,
  * PII or dialog, so most operator families are exercised end to end
  * only through rows planted next to it. Each documents fixture is
  * declared ONCE as a [[Fixture]]; its Spark frame and its DuckDB
  * relation are both rendered from those rows by one rule, so the
  * engine side and the oracle side cannot drift.
  */
object Fixtures {

  /** A planted `documents` fixture: rows of (doc_id, text, lang, source)
    * appended to the corpus. Rendering rule, shared by both forms:
    * `n_chars` is the code-point count of the text; on the SQL side
    * every `'` is doubled and every newline becomes `chr(10)`, so a
    * multi-line text is declared with its lines joined by `\n`. */
  final case class Fixture(tag: String, rows: Seq[(Long, String, String, String)]) {

    /** The planted rows alone, as a local relation in the documents schema. */
    def planted(s: SparkSession): DataFrame = {
      import s.implicits._
      rows.map { case (id, t, lang, src) => (id, t, lang, src, nChars(t)) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }

    /** documents ∪ the planted rows, unioned by name. */
    def df(s: SparkSession, d: String): DataFrame =
      Tables.documents(s, d).unionByName(planted(s))

    /** The same relation as a DuckDB SELECT — the fixture's oracle CTE. */
    val sql: String = {
      val vals = rows.map { case (id, t, lang, src) =>
        s"($id, ${sqlText(t)}, ${sqlText(lang)}, ${sqlText(src)}, ${nChars(t)})"
      }.mkString(", ")
      s"SELECT * FROM documents UNION ALL SELECT * FROM (VALUES $vals)" +
        " AS v(doc_id, text, lang, source, n_chars)"
    }

    /** [[df]] materialized once as a `documents.parquet` input dir, so
      * folded-artifact queries can shard it. */
    def inputDir(s: SparkSession, d: String): String =
      Artifacts.Lineage(s"docs_$tag", d, buildStamp)
        .serveSet("v1", d, "documents")(Seq("documents.parquet" -> df(s, d)))
  }

  private def nChars(t: String): Long = t.codePointCount(0, t.length).toLong

  /** A SQL string literal: quotes doubled, newlines as `chr(10)`. */
  private def sqlText(t: String): String =
    t.split("\n", -1).map(l => "'" + l.replace("'", "''") + "'")
      .mkString(" || chr(10) || ")

  /** An English fixture whose rows all carry source `planted_<tag>`. */
  private def en(tag: String, rows: (Long, String)*): Fixture =
    Fixture(tag, rows.map { case (id, t) => (id, t, "en", s"planted_$tag") })

  private def lines(ls: String*): String = ls.mkString("\n")

  /** The class files that hold the fixture rows and their builder: the
    * build stamp of every artifact materialized from a fixture, so
    * editing a fixture re-materializes its inputs. */
  val buildStamp: Seq[String] =
    Seq("/graft/Fixtures$.class", "/graft/Fixtures$Fixture.class")

  // Planted MULTILINGUAL rows (CJK, Cyrillic, Hangul, combining marks,
  // astral emoji + math alphanumerics), including near-dup pairs — the
  // generated corpus is 100% ASCII, so the UTF-8 byte-trie tokenizer and
  // the multilingual trainer path are oracled END-TO-END only through
  // this augmentation. All text is pre-lowercased so `lower()` cannot
  // diverge; doc_ids start at 9_000_001, far above any corpus id.
  val ml: Fixture = Fixture("ml", Seq(
    (9000001L, "spark 加速向量计算引擎 merge join 去重", "zh", "planted_ml"),
    (9000002L, "spark 加速向量计算引擎 merge join 去重 再次", "zh", "planted_ml"),
    (9000003L, "café déjà vu naïve café rosé", "fr", "planted_ml"),
    // the COMBINING-MARK twin of 9000003: same visual text, decomposed
    // e+U+0301 etc. — codepoint-distinct near-dup of the precomposed row
    (9000004L, "café déjà vu naïve café rosé", "fr", "planted_ml"),
    (9000005L, "🚀 rocket 🚀 query engine 🧪 test 𝕊𝕡𝕒𝕣𝕜 bench", "en", "planted_ml"),
    (9000006L, "быстрый поиск дубликатов в корпусе данных", "ru", "planted_ml"),
    (9000007L, "한국어 토큰 분석 테스트 문서 집합", "ko", "planted_ml"),
    // long (12-word) mixed-script near-dup pair differing only in the
    // LAST word: long enough for winnowing (≥ 8 words) and sharing
    // 11-word runs, so the pair must surface in every similarity
    // family — jaccard (9/11), minhash-LSH, edit distance (1 codepoint
    // substitution: 완 → 종), and winnowing (4 shared 5-gram windows).
    // Words 3–7 deliberately repeat 9000006's interior run, planting a
    // true cross-doc shared window WITHOUT near-dup-level similarity.
    (9000008L, "спарк движок поиск дубликатов в корпусе данных merge join 去重 테스트 완료", "ru", "planted_ml"),
    (9000009L, "спарк движок поиск дубликатов в корпусе данных merge join 去重 테스트 종료", "ru", "planted_ml")))

  // Planted MULTI-LINE docs — the web-ingest line-dedup fixture. The
  // generated corpus has no newlines (every doc is one line), so the
  // cross-document line-dedup family is exercised end-to-end only
  // through this augmentation. Coverage: a boilerplate line repeated
  // across 4 docs (twice within the keeper), a second 2-doc footer, a
  // MULTIBYTE boilerplate line, a doc that is 100% boilerplate (must
  // come out erased, not dropped), a within-doc-only repeat (df = 1 ⇒
  // kept), blank lines (always kept), and a digit-twin pair ("page 1
  // of 10" / "page 2 of 10") that dedups ONLY under the CCNet
  // normalized key.
  val nl: Fixture = {
    val b1 = "accept all cookies to continue browsing"
    val b2 = "copyright all rights reserved"
    val b3 = "去重 boilerplate 테스트 줄"
    en("nl",
      9200001L -> lines(b1, "alpha unique content about spark engines", b2, "", b1),
      9200002L -> lines(b1, b3, "bravo unique thoughts on merge join order", b2),
      9200003L -> lines(b3, "charlie unique line describing dedup", b1),
      9200004L -> lines(b1, b3),
      9200005L -> lines("echo repeated line stays", "echo repeated line stays",
        "", "echo unique closing line"),
      9200006L -> lines("page 1 of 10", "foxtrot unique body text"),
      9200007L -> lines("page 2 of 10", "golf unique body text"))
  }

  // Planted LINE-RULE rows (bullets / ellipses): the Rae A1.1 line
  // tests need multi-line docs straddling both thresholds — 75% bullets
  // (pass), 100% bullets (fail), 66% ellipses (fail), 25% ellipses
  // (pass). Base docs are single plain lines and pass trivially.
  val bullets: Fixture = en("bul",
    9950001L -> lines("- item one", "- item two", "* item three", "intro line"),
    9950002L -> lines("- a", "- b", "- c", "- d", "- e",
      "- f", "- g", "- h", "- i", "- j"),
    9950003L -> lines("thought trails off...", "another one trails...",
      "solid line"),
    9950004L -> lines("normal line", "quiet end", "one dots line...",
      "closing"))

  // Planted URL-CANONICALIZATION rows: mixed-case scheme/host, default
  // ports, tracking params, fragments, and trailing slashes — raw
  // spellings that must collapse to shared canonical URLs (the
  // crawl-side URL dedup key). URLs are space-delimited (the extractor
  // pattern is [^ ]+).
  val urlCanon: Fixture = en("urlc",
    9900001L -> ("see HTTPS://Example.COM:443/Article/?utm_source=x&utm_campaign=y#frag " +
      "and more text"),
    9900002L -> ("see https://example.com/Article and " +
      "http://News.Site.org:80/a/b/?gclid=123 now"),
    9900003L -> ("plain http://news.site.org/a/b and dup " +
      "https://example.com/Article/ here"),
    9900004L -> ("tracked https://example.com/Article?id=7&utm_medium=z&fbclid=q " +
      "end"))

  // Planted URL-bearing docs (the C4 URL-filter fixture; base docs
  // carry zero URLs and flow through as negatives)
  val url: Fixture = en("url",
    9300001L -> ("visit https://spam.example.com/offer now and also " +
      "http://news.site.org/article today"),
    9300002L -> ("double https://spam.example.com/a then " +
      "https://spam.example.com/b mention plus https://good.example.net"),
    9300003L -> ("mixed https://good.example.net/page and " +
      "https://tracker.adsite.io/pixel inline"))

  // Planted CONTAINMENT pair: an excerpt fully inside a long doc —
  // containment(excerpt) = 1.0 while symmetric Jaccard ≈ 0.28 stays
  // under every near-dup threshold (the case containment exists for).
  val cont: Fixture = en("cont",
    9850001L -> ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"),
    9850002L -> "zeta eta theta iota kappa lambda mu")

  /** The accepted-instruction POOL for `text_rouge_dedup` — the
    * Self-Instruct / Alpaca admission filter's comparison set (tiny,
    * driver-side, broadcasts). Lowercase, quote-free, ≤ 9 tokens (the
    * oracle unrolls one DP stage per pool-token position). */
  val instPool: Seq[(Int, String)] = Seq(
    1 -> "write a short poem about the spark engine",
    2 -> "summarize the given document in one sentence",
    3 -> "translate the following text into french",
    4 -> "list three benefits of columnar storage formats",
    5 -> "explain how a merge join works",
    6 -> "classify the sentiment of this review",
    7 -> "generate a sql query that counts rows per group",
    8 -> "rewrite the paragraph to be more concise")

  // Planted CANDIDATE instructions: an exact pool copy (F1 = 1), a
  // one-word substitution (8333 ≥ θ), a one-word insertion (9333 ≥ θ),
  // a word-REORDERED twin of pool #1 (same bag, LCS halves → 5000 < θ:
  // the order-sensitivity ROUGE-L has and Jaccard lacks), and a novel
  // instruction. Base corpus docs flow through as low-score negatives.
  val inst: Fixture = en("inst",
    9400001L -> "translate the following text into french",
    9400002L -> "explain how a hash join works",
    9400003L -> "about the spark engine write a short poem",
    9400004L -> "summarize the given document in exactly one sentence",
    9400005L -> "compute the average latency per region from logs")

  // Planted CODE docs — the Stack/StarCoder filter fixture: a clean
  // snippet (passes), a minified 143-char line (max-line fail), an
  // auto-generated header (marker fail), symbol soup (alnum fail),
  // and an all-comments file (comment-share fail). Base corpus docs
  // flow through the same rules (single-line prose: most fail the
  // max-line bound — they are not code).
  val code: Fixture = en("code",
    9700001L -> lines("def add(a, b):", "    # sum two values",
      "    return a + b", "total = add(2, 3)", "print(total)"),
    9700002L -> lines(("let v0 = 0; " * 12).trim, "export default v0;"),
    9700003L -> lines("# auto-generated do not edit", "def gen():",
      "    return 42"),
    9700004L -> lines("(((((", ")))))", "===== ;;;;;"),
    9700005L -> lines("# only comments here", "# nothing else",
      "// and more"))

  // Planted SFT pairs ("prompt ### completion") — base docs carry no
  // separator and flow through as has_pair = false all-zero masks.
  val sft: Fixture = en("sft",
    9450001L -> "write a haiku about joins ### silent merge of streams",
    9450002L -> "name three sort algorithms ### quick merge heap",
    9450003L -> "### completion with empty prompt",
    9450004L -> "trailing separator only ###")

  // Planted LINK-GRAPH docs: each doc's `source` is a SITE and its text
  // links to other sites in the set — the fixture behind domain
  // PageRank. Coverage: a hub receiving from three sites, a duplicate
  // in-text link (edge dedup), two docs from one site (cross-doc edge
  // dedup), a spam island fed by one site, and a cycle (hub → alpha →
  // hub). Base corpus docs carry no URLs: their sources rank at the
  // teleport base, keeping the query corpus-coupled.
  val urlGraph: Fixture = Fixture("urlgraph", Seq(
    (9500001L, "alpha.site",
      "see https://hub.site/a then https://hub.site/b plus https://beta.site/x"),
    (9500002L, "beta.site", "read https://hub.site/c today"),
    (9500003L, "gamma.site",
      "both https://hub.site/d and https://alpha.site/e linked"),
    (9500004L, "delta.site", "shady https://spam.farm/z offer"),
    (9500005L, "hub.site", "back to https://alpha.site/f now"),
    (9500006L, "alpha.site", "more https://gamma.site/g content")
  ).map { case (id, site, t) => (id, t, "en", site) })

  // Planted LM-SERVE rows: the base corpus is also the training corpus,
  // so every one of its trigrams scores at level 3 — these rows remix
  // base-vocabulary words into novel orders and add unseen words, the
  // only way the stupid-backoff chain (level 2/1/OOV) is exercised
  // end-to-end. All-lowercase ASCII.
  val lm: Fixture = en("lm",
    9700001L -> "spark zzz join qqq merge zzz",
    9700002L -> "window sort the big table scan join merge",
    9700003L -> "zzz yyy xxx zzz yyy")

  // Planted PII docs (email/phone/IP occurrences plus digit runs where
  // ONLY the Luhn-valid one may count as a card; the all-letter base
  // corpus flows through as zero rows)
  val pii: Fixture = en("pii",
    9600001L -> "contact user@example.com or call 555-867-5309 now",
    9600002L -> ("card 4111111111111111 works but 4111111111111112 fails " +
      "and 79927398713 is short"),
    9600003L -> "server at 10.0.0.1 and 192.168.1.255 plus order 1234567890123 id")

  // Planted HTML docs (tag strip + entity unescape + link density; the
  // tag-free base corpus must flow through htmlExtract UNCHANGED —
  // single-space ASCII text is its own fixed point)
  val html: Fixture = en("html",
    9400001L -> ("<html><head><title>t</title></head><body>" +
      "<h1>spark engine guide</h1><p>learn about merge join and dedup</p>" +
      "<a href=\"https://x.example.com\">read more</a></body></html>"),
    9400002L -> ("<div><a href=\"/a\">home</a> <a href=\"/b\">about us</a> " +
      "<a href=\"/c\">contact page</a></div>"),
    9400003L -> ("<p>a &amp; b &lt;tag&gt; &quot;quoted&quot; " +
      "it&#39;s fine</p><!-- hidden comment -->"))

  // Planted DPO candidate groups ("prompt ### completion", several
  // completions per prompt). Coverage: a clear quality spread (group
  // elects by score), a chosen-side TIE (→ lowest doc_id), a
  // rejected-side TIE (→ highest doc_id), an all-equal group (zero
  // margin → dropped), a singleton group (dropped), and an
  // empty-prompt row (slicing edge, singleton → dropped). Base docs
  // carry no separator and are filtered before the group-by.
  val dpo: Fixture = en("dpo",
    9910001L -> ("explain the tides ### the moon pulls ocean water into" +
      " two bulges as the earth rotates beneath them"),
    9910002L -> ("explain the tides ### tides rise and tides fall" +
      " because tides follow the moon and the sun"),
    9910003L -> "explain the tides ### water water water goes up and down and up and down",
    9910004L -> "name a prime number ### seven is prime",
    9910005L -> "name a prime number ### two is prime",
    9910006L -> "name a prime number ### prime prime prime",
    9910007L -> "pick a color ### blue is calm and deep",
    9910008L -> "pick a color ### red red red red",
    9910009L -> "pick a color ### green green green green",
    9910010L -> "say hello ### hello there friend",
    9910011L -> "say hello ### greetings kind stranger",
    9910012L -> "lonely prompt ### only one answer here",
    9910013L -> "### orphan completion with no prompt")

  // Planted multi-turn CHAT transcripts. Coverage: a 2×2-turn dialog,
  // an assistant-first transcript with a trailing user turn, a
  // user-only doc (has_dialog = false), a system preamble before any
  // marker (masked 0), and adjacent markers (an empty assistant turn
  // contributing zero train tokens). Base docs carry no markers →
  // all-zero masks.
  val chat: Fixture = en("chat",
    9920001L -> ("<user> how do i sort a list <assistant> use the sorted" +
      " builtin <user> and in place <assistant> call the sort method"),
    9920002L -> "<assistant> unprompted greeting <user> silence",
    9920003L -> "<user> question with no reply",
    9920004L -> "system preamble text <user> hi <assistant> hello there",
    9920005L -> "<assistant> <user> empty assistant turn")

  // Planted MOJIBAKE docs (UTF-8 mis-decoded as CP1252). Coverage:
  // a 2-byte repair (Ã© → é), CP1252-special + sloppy-C1 quotes
  // (â€œ/â€ → curly quotes), a 3-byte euro (â‚¬ → €), genuine
  // Latin-1 prose whose bytes are NOT valid UTF-8 (untouched), a lone
  // CP1252 special mapping to a bare continuation byte (untouched), an
  // unmappable CJK char (conservative whole-doc no-touch), and a
  // truncated mojibake tail (invalid → untouched). ASCII base docs are
  // identity by construction.
  val moji: Fixture = en("moji",
    9930001L -> "cafÃ© latte",
    9930002L -> ("he said â€œfineâ€" +
      "\u009d ok"), // the sloppy-C1 slot, spelled as an escape
    9930003L -> "price â‚¬ 5",
    9930004L -> "genuine café unchanged",
    9930005L -> "€ only euro",
    9930006L -> "mixed Ã© and real 中 text",
    9930007L -> "truncated moji â€ end")

  // Planted REPETITION docs (the base corpus has dup 2-grams but zero
  // dup 5-grams — verified — so the n ≥ 5 coverage side needs plants).
  // Coverage: a 5-token phrase repeated 3× (periodicity makes every
  // n ≤ 15 window duplicated), a 2-token loop (top-2gram), an
  // all-distinct control (all signals 0), and a 7× single-token run
  // whose top-2gram char mass EXCEEDS total chars (the documented
  // uncapped case: overlapping occurrences).
  val rep: Fixture = en("rep",
    9940001L -> ("click here to read more click here to read more" +
      " click here to read more now"),
    9940002L -> ("subscribe newsletter subscribe newsletter subscribe" +
      " newsletter footer"),
    9940003L -> "one two three four five six seven eight nine ten all distinct words",
    9940004L -> "spam spam spam spam spam spam spam eggs")

  // Planted INVISIBLE-CHAR docs: a ZWSP-split word (dedup evasion — a
  // byte-distinct twin of visible text), a bidi-RLO reordering attack
  // (Trojan Source), an isolate pair, a BOM-prefixed doc, and a clean
  // control. All chars spelled as escapes — nothing invisible in the
  // source.
  val invis: Fixture = en("invis",
    9970001L -> "pay\u200bload split by zwsp",
    9970002L -> "access\u202eelbasid\u202c the rlo trick",
    9970003L -> "alpha \u2066isolated\u2069 beta",
    9970004L -> "\ufeffbom prefixed doc",
    9970005L -> "perfectly clean text")

  // Planted IBAN docs: two genuine checksums (the ISO example pair), a
  // one-digit corruption (shape-identical, mod-97 fails), a lookalike
  // (matches the candidate regex, wrong checksum), and a lowercase
  // spelling (never a candidate). Base docs are lowercase — no
  // accidental candidates.
  val iban: Fixture = en("iban",
    9960001L -> "pay to DE89370400440532013000 today",
    9960002L -> "ref GB82WEST12345698765432 thanks",
    9960003L -> "fake DE89370400440532013001 checksum",
    9960004L -> "short XX00ABCD123456789 maybe",
    9960005L -> "lowercase de89370400440532013000 ignored")

  // Planted PRE-TOKENIZATION docs — the GPT-2 regex edge cases the
  // base corpus lacks: lowercase contractions (incl. an UPPER-case
  // non-match and a bare apostrophe), multi-space runs + trailing
  // spaces (the lookahead's space-donation), tabs, Unicode letters and
  // a CJK year+number mix, and other-runs containing an apostrophe
  // mid-run.
  val pre: Fixture = en("pre",
    9980001L -> "it's the user's code we'll've refactored",
    9980002L -> "price is 42 dollars and 3.14 approx",
    9980003L -> "hello   world trailing  ",
    9980004L -> "tabs\there and\t\tdouble",
    9980005L -> "émigré café 北京 2024年",
    9980006L -> "symbols !!! then ') quote",
    9980007L -> "don'T 'S 'x x'")

  // Planted MULTI-SENTENCE docs (the base corpus has no ". " anywhere
  // — verified — so sentence-aligned chunking needs plants). Coverage:
  // ten 10-token sentences (boundaries at the straddle: a chunk runs
  // to 70 tokens before closing), a single 70-token sentence (one
  // whole-chunk overrun), and a tiny 3-sentence doc (single chunk).
  val sent: Fixture = {
    def sentence(tag: String, n: Int) =
      (tag +: (1 until n).map(i => s"w$i")).mkString(" ")
    en("sent",
      9950001L -> (1 to 10).map(i => sentence(s"s$i", 10)).mkString(". "),
      9950002L -> Seq(sentence("long", 70), sentence("tail", 8)).mkString(". "),
      9950003L -> "alpha beta. gamma. delta epsilon zeta")
  }

  /** Every planted documents fixture. */
  val all: Seq[Fixture] = Seq(ml, nl, bullets, urlCanon, url, cont, inst,
    code, sft, urlGraph, lm, pii, html, dpo, chat, moji, rep, invis, iban,
    pre, sent)

  // Planted high-cosine near-dup fixture for the θ=0.7 headline LSH
  // entry: a 4% slice (vec_id % 25 == 3) re-ided +10M with every 4th
  // coordinate zeroed — cos(v, v') = sqrt(1 - E₀/E) ≈ 0.87 for the
  // synthetic energy profile, deterministic in any engine.
  def plantedEmb(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val planted = e.filter(pmod(col("vec_id"), lit(25L)) === 3L)
      .withColumn("vec_id", col("vec_id") + 10000000L)
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> IF(i % 4 == 0, CAST(0.0 AS FLOAT), x))"))
    e.unionByName(planted)
  }

  /** Two orders shards materialized ONCE under EVOLVING schemas — v1
    * (even keys): o_custkey narrowed to INT, o_totalprice to FLOAT; v2
    * (odd keys): the wide originals plus a NEW o_channel column. The
    * evolved-read query widens them back into one table. */
  def evolvedShards(s: SparkSession, d: String): Seq[String] = {
    val dir = Artifacts.Lineage("evolved_orders", d, buildStamp)
      .serveSet("v1", d, "orders") {
        val o = Tables.orders(s, d)
        Seq(
          "shard_v1.parquet" -> o.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_custkey").cast("int"),
              col("o_totalprice").cast("float")),
          "shard_v2.parquet" -> o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), lit("web").as("o_channel")))
      }
    Seq(s"$dir/shard_v1.parquet", s"$dir/shard_v2.parquet")
  }
}
