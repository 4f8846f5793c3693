package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op

/** t41: the crawl front door as ONE composed plan (r14 verdict item
  * 2) — the product a 100 TB crawl user actually runs. The pieces
  * exist as isolated hash-verified keys (t35 extract, t37 entity
  * decode, t40 line-wrap repair, t36 canonical-URL dedup, t39 robots
  * rules); this is their composition in a single DataFrame so
  * Catalyst shares one scan and one codegen stage across all of them
  * (the d21 precedent), with a full-composition DuckDB oracle.
  *
  * Pipeline per fetched page: planted raw URL → RFC 3986
  * canonicalization (t36's [[TextAnalysis.canonicalUrl]], the SAME
  * expression) → robots longest-prefix-match admission on the
  * canonical path (t39's ruleset) → HTML→text extraction by link
  * density (t35's heuristic) → entity decode (t37's
  * lossless-on-doubt contract) → line-wrap + hyphenation repair
  * (t40) → frontier dedup on the canonical URL (first arrival wins)
  * → the d01/d02-ready clean text for admitted, first-arrival pages.
  *
  * SCALE SHAPE — the reason this beats running the five keys
  * separately: extraction, decode, and repair are expressed as
  * higher-order ARRAY functions (transform/filter/aggregate over the
  * block list and the entity-piece list) instead of the per-key
  * explode→groupBy reassembly, so the entire text pipeline is ONE
  * whole-stage-codegen map over the corpus with ZERO shuffles; the
  * only exchanges in the plan are the frontier window (partitioned
  * by canonical URL — corpus-scaling key, full-partition O(n)
  * frames) and the final presentation sort. At 100 TB that is one
  * pass over the pages plus one URL-keyed shuffle of (id, url,
  * counters, text) — the minimum any frontier dedup pays. The
  * per-key forms remain registered for per-block / per-piece
  * reporting; this is the corpus deliverable.
  *
  * PLANT (the corpus has no HTML/URLs): host/scheme spelling variant
  * hv = (doc_id div 20) % 4 (t36's four spellings) and path class
  * pv = (doc_id div 80) % 5 (t39's five paths) — div 20 so variants
  * vary WITHIN a source (source is doc_id%20-determined), div 80 so
  * each (source, path-group) quad holds exactly one v2/v3 pair that
  * canonicalizes identically → planted frontier duplicates, plus
  * exact respellings every 20 ids of the same variant. The page
  * wraps each document's text — escaped with t37's entity prefix and
  * line-wrapped with t40's guarded plant — in t35's planted chrome
  * (script decoy, nav bar, citation link, link footer). Because
  * every plant is lossless by construction, the final `restored`
  * column (repaired text == decoded prefix + original text +
  * citation) is structurally pinned 1 — the whole composition is a
  * self-checking round trip, hash-verified end to end. */
object CrawlE2e {
  import TextAnalysis.HtmlLinkDensityNum

  /** Minimum line length (chars) for t45's cross-doc line-dedup
    * eligibility — the CCNet guard: shorter lines (hyphen/wrap
    * fragments) are always kept, whatever their doc-frequency. */
  val CrawlLineMinChars = 10

  /** Disallow patterns of the planted ruleset (t39's group). */
  private val DisallowPats = Seq("/private", "/tmp", "/search")
  /** Allow patterns (the longest-match override). */
  private val AllowPats = Seq("/private/ok")

  // ---- per-piece entity decode helpers (t37's contract as column
  // functions usable inside array lambdas) -------------------------
  //
  // r17 shape: each piece's three prefix regexes run ONCE, into a
  // (p, nm, dv, dlen, hv, hlen) struct; the decode and both counters
  // read the precomputed fields. The r16 form re-ran regexp_extract
  // inside every `when` branch and again per counter (~9 regex
  // executions per piece per consumer — HOF lambdas get no
  // common-subexpression elimination), and stripped the matched
  // prefix with regexp_replace where substr(len) is equivalent: the
  // branch guard proves the prefix matched, so its length is
  // 2 + dlen + 1 (dec), 3 + hlen + 1 (hex), 1 + len(nm) + 1 (named).
  // Same decoded strings, same counts — CrawlE2eSpec pins the round
  // trip and the oracle replays the original regex formulation.
  private val NamedSet = Seq("amp", "lt", "gt", "quot", "apos", "nbsp")
  private def namedChar(n: Column): Column =
    when(n === "amp", "&").when(n === "lt", "<").when(n === "gt", ">")
      .when(n === "quot", "\"").when(n === "apos", "'")
      .otherwise(" ") // nbsp (guarded by the IN-set check at use site)
  private def pieceInfo(p: Column): Column = {
    val dc = regexp_extract(p, "^&#([0-9]{1,7});", 1)
    val hx = regexp_extract(p, "^&#[xX]([0-9a-fA-F]{1,6});", 1)
    struct(p.as("p"),
      regexp_extract(p, "^&([a-zA-Z]+);", 1).as("nm"),
      when(dc =!= "", dc.cast("long")).as("dv"),
      length(dc).as("dlen"),
      when(hx =!= "", conv(lower(hx), 16, 10).cast("long")).as("hv"),
      length(hx).as("hlen"))
  }
  // null-safe: dv/hv are NULL for non-numeric pieces, and false||NULL
  // is NULL in SQL — an unknown entity would vanish from the
  // n_unknown counter without the coalesce
  private def infoHit(s: Column): Column =
    s.getField("nm").isin(NamedSet: _*) ||
      coalesce(s.getField("dv").between(32L, 126L), lit(false)) ||
      coalesce(s.getField("hv").between(32L, 126L), lit(false))
  private def infoDecode(s: Column): Column = {
    val p = s.getField("p")
    when(s.getField("nm").isin(NamedSet: _*),
      concat(namedChar(s.getField("nm")),
        p.substr(length(s.getField("nm")) + lit(3), length(p))))
      .when(s.getField("dv").between(32L, 126L),
        concat(call_function("char", s.getField("dv")),
          p.substr(s.getField("dlen") + lit(4), length(p))))
      .when(s.getField("hv").between(32L, 126L),
        concat(call_function("char", s.getField("hv")),
          p.substr(s.getField("hlen") + lit(5), length(p))))
      .otherwise(p)
  }

  def t41CrawlE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"), trim(col("text")).as("txt"))
      .withColumn("hv", expr("doc_id div 20") % 4)
      .withColumn("pv", expr("doc_id div 80") % 5)
      .withColumn("ppath",
        when(col("pv") === 0, "/private/x")
          .when(col("pv") === 1, "/private/ok/y")
          .when(col("pv") === 2, "/public/a")
          .when(col("pv") === 3, "/tmp/z")
          .otherwise("/"))
      .withColumn("raw_url",
        when(col("hv") === 0, concat(lit("HTTPS://WWW."),
          upper(col("source")), lit(".COM:443/"), col("ppath"),
          lit("/?utm_source=rss&z=9&a=1#top")))
          .when(col("hv") === 1, concat(lit("http://"), col("source"),
            lit(".com:80"), col("ppath")))
          .when(col("hv") === 2, concat(lit("https://"),
            upper(col("source")), lit(".COM"), col("ppath"),
            lit("//?b=2&a=1&utm_campaign=x")))
          .otherwise(concat(lit("https://www."), col("source"),
            lit(".com"), col("ppath"), lit("?a=1&b=2"))))
      .withColumn("canon_url",
        TextAnalysis.canonicalUrl(col("raw_url")))
      .withColumn("cpath",
        regexp_extract(col("canon_url"), "^[a-z]+://[^/?#]*([^?]*)", 1))

    // robots verdict — scalar longest-match over the LITERAL bounded
    // ruleset (t39's relational broadcast form generalizes to big
    // rulesets; composed into the map stage here so the gate costs
    // zero joins)
    val disArr = array(DisallowPats.map(lit): _*)
    val allowArr = array(AllowPats.map(lit): _*)
    val gated = docs
      .withColumn("dlen", coalesce(array_max(transform(
        filter(disArr, p => col("cpath").startsWith(p)),
        p => length(p))), lit(-1)))
      .withColumn("alen", coalesce(array_max(transform(
        filter(allowArr, p => col("cpath").startsWith(p)),
        p => length(p))), lit(-1)))
      .withColumn("allowed",
        (col("alen") >= col("dlen")).cast("long"))
      .withColumn("matched_rule",
        when(col("alen") < 0 && col("dlen") < 0, "")
          .when(col("alen") >= col("dlen"),
            element_at(filter(allowArr,
              p => length(p) === col("alen")), 1))
          .otherwise(element_at(filter(disArr,
            p => col("cpath").startsWith(p) &&
              length(p) === col("dlen")), 1)))

    // the planted page: t35 chrome around (t37 escaped prefix +
    // t40 wrapped text). r17: the wrap runs as ONE codegen'd kernel
    // pass per doc (CrawlPlantKernel mode 0) — the interpreted
    // per-word transform was t41's single largest profiled stage
    // (1.6 s of 2.8 s at sf0.1); bytes identical, oracle untouched
    // (CrawlPlantKernelSpec pins the equality).
    val wrapped = graft.functions.CrawlPlantKernel.wrapCol(
      col("txt"), graft.functions.CrawlPlantKernel.T41Wrap)
    val page = concat(
      lit("<html><head><title>d</title><style>.m{color:red}</style>" +
        "<script>var s=\"<div>decoy</div>\";</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav><div>"),
      lit("Tom &amp; Jerry &lt;tag&gt; &quot;"), col("source"),
      lit("&quot; &#39;ok&#39; A&#66;C &#x21; &bogus; "), wrapped,
      lit(" <a href=\"#ref\">"), col("source"), lit("</a></div>" +
        "<div><a href=\"/p\">Privacy</a> | <a href=\"/t\">Terms</a>" +
        "</div></body></html>"))

    // t35 extraction as pure array ops (no explode, no reassembly
    // shuffle): strip script/style/head, split at block tags,
    // per-block strip + link-density verdict, rejoin kept blocks.
    // The per-block collapse folds spaces/tabs ONLY — newlines must
    // survive extraction for t40's repair to see them (the per-key
    // t35 collapses \s+ because its per-block report has no
    // downstream repair).
    // r17: the three strip passes fuse into ONE alternation — each
    // replaced region is replaced by the same " " whichever branch
    // matches first, and the plant's script/style nest inside <head>
    // so the leftmost match subsumes them identically (hash-verified
    // against the oracle, which keeps the three-pass formulation).
    val cleaned = regexp_replace(page,
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>" +
        "|<head[^>]*>.*?</head>", " ")
    val bs = split(cleaned, "(?i)</?(?:nav|div|p|body|html)[^>]*>")
    val blockStructs = filter(transform(bs, b => struct(
      trim(regexp_replace(regexp_replace(b, "<[^>]*>", " "),
        "[ \\t]+", " ")).as("btxt"),
      coalesce(aggregate(
        regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
        lit(0L), (acc, x) => acc + length(x).cast("long")),
        lit(0L)).as("lc"))),
      s => length(s.getField("btxt")) > 0)
    val extractedDf = gated
      .withColumn("blocks", blockStructs)
      .withColumn("n_blocks", size(col("blocks")).cast("long"))
      .withColumn("keptb", filter(col("blocks"),
        s => s.getField("lc") * HtmlLinkDensityNum <=
          length(s.getField("btxt"))))
      .withColumn("n_kept", size(col("keptb")).cast("long"))
      .withColumn("extracted", array_join(transform(col("keptb"),
        s => s.getField("btxt")), " "))

    // t37 entity decode as array ops over the sentinel-split pieces
    // (r17: literal sentinel insertion via replace() — "&" is not a
    // regex; piece regexes run once each into pinfo, see pieceInfo)
    val decodedDf = extractedDf
      .withColumn("pinfo", transform(split(replace(col("extracted"),
        lit("&"), lit("&")), ""), p => pieceInfo(p)))
      .withColumn("decoded",
        array_join(transform(col("pinfo"), s => infoDecode(s)), ""))
      .withColumn("n_entities", aggregate(col("pinfo"), lit(0L),
        (acc, s) => acc + when(infoHit(s), 1L).otherwise(0L)))
      .withColumn("n_unknown", aggregate(col("pinfo"), lit(0L),
        (acc, s) => acc + when(s.getField("p").startsWith("&")
          && !infoHit(s), 1L).otherwise(0L)))

    // t40 repair + the structural round-trip pin (r17: "\n" → " " is
    // a literal substitution — replace(), not a regex pass)
    val expected = concat(lit("Tom & Jerry <tag> \""), col("source"),
      lit("\" 'ok' ABC ! &bogus; "), col("txt"), lit(" "),
      col("source"))
    val repairedDf = decodedDf
      .withColumn("dehyph", regexp_replace(col("decoded"),
        "([a-z])-\\n([a-z])", "$1$2"))
      .withColumn("repaired",
        replace(col("dehyph"), lit("\n"), lit(" ")))
      .withColumn("n_hyphen_joins",
        ((length(col("decoded")) - length(col("dehyph"))) / 2)
          .cast("long"))
      .withColumn("n_wraps", (length(col("dehyph")) -
        length(replace(col("dehyph"), lit("\n"), lit(""))))
        .cast("long"))
      .withColumn("restored",
        when(col("repaired") === expected, 1L).otherwise(0L))

    // frontier dedup — the plan's ONE corpus shuffle, keyed on the
    // canonical URL (full-partition frames, O(n) per canonical)
    val wc = Window.partitionBy(col("canon_url"))
    repairedDf
      .withColumn("first_doc", min(col("doc_id")).over(wc))
      .withColumn("n_dups", count(lit(1)).over(wc).cast("long"))
      .withColumn("is_dup",
        (col("doc_id") =!= col("first_doc")).cast("long"))
      .withColumn("admitted",
        when(col("allowed") === 1L && col("is_dup") === 0L &&
          col("n_kept") > 0L, 1L).otherwise(0L))
      .select(col("doc_id"), col("canon_url"), col("cpath"),
        col("matched_rule"), col("allowed"), col("is_dup"),
        col("n_dups"), col("n_blocks"), col("n_kept"),
        col("n_entities"), col("n_unknown"), col("n_hyphen_joins"),
        col("n_wraps"), col("restored"), col("admitted"),
        when(col("admitted") === 1L, col("repaired")).otherwise(lit(""))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** t45: the crawl front door WIDENED with the r15 text gates (r15
    * verdict next-round item 4) — t41's composition plus charset
    * admission (t42's UTF-8 DFA) before extraction, cross-document
    * LINE dedup (t44's doc-frequency rule) on the decoded page's
    * line structure, and the sentence gate (t43's
    * abbreviation-protected splitter + C4 >= 3-sentence rule) after
    * repair — still ONE DataFrame plan with one full-composition
    * DuckDB oracle.
    *
    * Stage order is the production order: the charset gate runs on
    * the fetched BYTES (before any text op), and line dedup runs
    * while the page still HAS lines — i.e. after entity decode but
    * before the unwrap repair erases the newlines (CCNet/RefinedWeb
    * dedup lines before paragraph-joining for exactly this reason);
    * the sentence gate reads the final repaired text.
    *
    * PLANT deltas vs t41: the content div gains t44's boilerplate
    * lines — a newsletter header cycling doc_id%5 (df ≈ N/5, far
    * past [[TextAnalysis.LineMinDocs]]) and an all-docs footer — and
    * the wrap separator gains t43's terminator cycle (i%7 gaps, with
    * i%11 abbreviation prefixes; terminator beats the i%6 wrap
    * newline when both fire); the t35 citation anchor is dropped
    * here (t41 keeps pinning it) so the planted lines stay
    * tag-residue-free. Charset bytes are t42's exact four-arm plant
    * over the text prefix. Every plant is lossless, so `restored`
    * pins the full round trip per row: header+footer removed by the
    * df rule, hyphens rejoined, wraps unwrapped, terminators and
    * abbreviations surviving verbatim — and the expected sentence
    * count is structural: 1 (the prefix's planted `!`) +
    * (n_words−1) div 7 planted terminators + 1.
    *
    * SCALE SHAPE: everything through entity decode is the same ONE
    * zero-shuffle codegen map as t41; the line stage adds the keyed
    * work it must — a line-keyed doc-frequency aggregate (map-side
    * combined) whose exploded input exchange AQE REUSES for the
    * re-attach join probe, a doc_id-keyed reassembly, and the hinted
    * doc-side rejoin (both sides corpus-scaling and
    * aggregate-derived — the t11/d16 never-guess-broadcast rule) —
    * then the frontier window and presentation sort as before.
    * CrawlE2eSpec pins the exchange budget. */
  def t45CrawlFull(spark: SparkSession, dir: String): DataFrame = {
    import TextAnalysis.{AbbrevSentinel, LineMinDocs}
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"), trim(col("text")).as("txt"))
      .withColumn("hv", expr("doc_id div 20") % 4)
      .withColumn("pv", expr("doc_id div 80") % 5)
      .withColumn("ppath",
        when(col("pv") === 0, "/private/x")
          .when(col("pv") === 1, "/private/ok/y")
          .when(col("pv") === 2, "/public/a")
          .when(col("pv") === 3, "/tmp/z")
          .otherwise("/"))
      .withColumn("raw_url",
        when(col("hv") === 0, concat(lit("HTTPS://WWW."),
          upper(col("source")), lit(".COM:443/"), col("ppath"),
          lit("/?utm_source=rss&z=9&a=1#top")))
          .when(col("hv") === 1, concat(lit("http://"), col("source"),
            lit(".com:80"), col("ppath")))
          .when(col("hv") === 2, concat(lit("https://"),
            upper(col("source")), lit(".COM"), col("ppath"),
            lit("//?b=2&a=1&utm_campaign=x")))
          .otherwise(concat(lit("https://www."), col("source"),
            lit(".com"), col("ppath"), lit("?a=1&b=2"))))
      .withColumn("canon_url",
        TextAnalysis.canonicalUrl(col("raw_url")))
      .withColumn("cpath",
        regexp_extract(col("canon_url"), "^[a-z]+://[^/?#]*([^?]*)", 1))

    val disArr = array(DisallowPats.map(lit): _*)
    val allowArr = array(AllowPats.map(lit): _*)
    val gated = docs
      .withColumn("dlen", coalesce(array_max(transform(
        filter(disArr, p => col("cpath").startsWith(p)),
        p => length(p))), lit(-1)))
      .withColumn("alen", coalesce(array_max(transform(
        filter(allowArr, p => col("cpath").startsWith(p)),
        p => length(p))), lit(-1)))
      .withColumn("allowed",
        (col("alen") >= col("dlen")).cast("long"))
      .withColumn("matched_rule",
        when(col("alen") < 0 && col("dlen") < 0, "")
          .when(col("alen") >= col("dlen"),
            element_at(filter(allowArr,
              p => length(p) === col("alen")), 1))
          .otherwise(element_at(filter(disArr,
            p => col("cpath").startsWith(p) &&
              length(p) === col("dlen")), 1)))

    // charset admission (t42's exact plant + DFA, composed as scalar
    // map work: the gate costs zero joins, zero shuffles)
    val asciiBytes = transform(
      sequence(lit(1), least(lit(24), length(col("txt")))),
      i => ascii(col("txt").substr(i, lit(1))).cast("int"))
    val utf8Pre = array(Seq(0x63, 0x61, 0x66, 0xC3, 0xA9, 0x20)
      .map(v => lit(v)): _*)
    val latin1Pre = array(Seq(0x63, 0x61, 0x66, 0xE9, 0x20)
      .map(v => lit(v)): _*)
    val cbytes = when(pmod(col("doc_id"), lit(4)) === 0, asciiBytes)
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(utf8Pre, asciiBytes))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(latin1Pre, asciiBytes))
      .otherwise(concat(asciiBytes, array(lit(0xC3))))
    val charsetted = gated
      .withColumn("charset_class", TextAnalysis.charsetClass(
        TextAnalysis.highByteCount(cbytes),
        TextAnalysis.utf8FinalState(cbytes).cast("long")))
      .withColumn("charset_ok",
        (col("charset_class") =!= "legacy").cast("long"))

    // the planted page: t44 header/footer lines around (t37 escaped
    // prefix + t40 wrap + t43 terminators/abbreviations). r17: the
    // wrap AND the expected round-trip text below each run as ONE
    // codegen'd kernel pass per doc (CrawlPlantKernel modes 1/2) —
    // t45 paid the interpreted per-word transform twice; bytes
    // identical, oracle untouched (CrawlPlantKernelSpec).
    val wrapped = graft.functions.CrawlPlantKernel.wrapCol(
      col("txt"), graft.functions.CrawlPlantKernel.T45Wrap)
    val header = concat(lit("subscribe to source "),
      pmod(col("doc_id"), lit(5)).cast("string"), lit(" newsletter"))
    val page = concat(
      lit("<html><head><title>d</title><style>.m{color:red}</style>" +
        "<script>var s=\"<div>decoy</div>\";</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav><div>"),
      header, lit("\n"),
      lit("Tom &amp; Jerry &lt;tag&gt; &quot;"), col("source"),
      lit("&quot; &#39;ok&#39; A&#66;C &#x21; &bogus; "), wrapped,
      lit("\nall rights reserved</div>" +
        "<div><a href=\"/p\">Privacy</a> | <a href=\"/t\">Terms</a>" +
        "</div></body></html>"))

    // t35 extraction (same array-op shape as t41, same r17 fused
    // strip alternation)
    val cleaned = regexp_replace(page,
      "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>" +
        "|<head[^>]*>.*?</head>", " ")
    val bs = split(cleaned, "(?i)</?(?:nav|div|p|body|html)[^>]*>")
    val blockStructs = filter(transform(bs, b => struct(
      trim(regexp_replace(regexp_replace(b, "<[^>]*>", " "),
        "[ \\t]+", " ")).as("btxt"),
      coalesce(aggregate(
        regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
        lit(0L), (acc, x) => acc + length(x).cast("long")),
        lit(0L)).as("lc"))),
      s => length(s.getField("btxt")) > 0)
    val extractedDf = charsetted
      .withColumn("blocks", blockStructs)
      .withColumn("n_blocks", size(col("blocks")).cast("long"))
      .withColumn("keptb", filter(col("blocks"),
        s => s.getField("lc") * HtmlLinkDensityNum <=
          length(s.getField("btxt"))))
      .withColumn("n_kept", size(col("keptb")).cast("long"))
      .withColumn("extracted", array_join(transform(col("keptb"),
        s => s.getField("btxt")), " "))

    // t37 entity decode (same r17 pinfo shape as t41)
    val decodedDf = extractedDf
      .withColumn("pinfo", transform(split(replace(col("extracted"),
        lit("&"), lit("&")), ""), p => pieceInfo(p)))
      .withColumn("decoded",
        array_join(transform(col("pinfo"), s => infoDecode(s)), ""))
      .withColumn("n_entities", aggregate(col("pinfo"), lit(0L),
        (acc, s) => acc + when(infoHit(s), 1L).otherwise(0L)))
      .withColumn("n_unknown", aggregate(col("pinfo"), lit(0L),
        (acc, s) => acc + when(s.getField("p").startsWith("&")
          && !infoHit(s), 1L).otherwise(0L)))
      .withColumn("n_lines",
        size(split(col("decoded"), "\n")).cast("long"))

    // t44 cross-doc line dedup on the decoded page's line structure
    // (before the unwrap repair erases it). Short lines are NOT
    // dedup-eligible ([[CrawlLineMinChars]]) — the CCNet min-length
    // rule: wrap/hyphen breaks make tiny mid-word fragments ("an",
    // "ing") that collide corpus-wide by chance; removing those
    // would tear words, and no real boilerplate line is that short.
    // r17: decodedDf feeds BOTH the line explode and the re-attach
    // join below — without truncation the whole page-build + extract
    // + entity-decode map pipeline executes once per consumer (the
    // line-keyed exchange is AQE-reused between freq and kept, but
    // the re-attach side re-runs the full upstream). One eager
    // checkpoint of the narrow per-doc projection caps the decode at
    // ONE pass (guide §3.3); rows identical, oracle unchanged. The
    // projection drops the block/piece arrays and the page string so
    // the pinned relation is one row of counters + text per doc, and
    // it is scan-partitioned (not aggregate-coalesced), so the
    // single-partition checkpoint trap doesn't apply.
    val doc = (decodedDf.select(
      col("doc_id"), col("source"), col("txt"), col("canon_url"),
      col("matched_rule"), col("allowed"), col("charset_class"),
      col("charset_ok"), col("n_blocks"), col("n_kept"),
      col("n_entities"), col("n_unknown"), col("n_lines"),
      col("decoded")))
    val ex = doc.select(col("doc_id"),
      posexplode(split(col("decoded"), "\n")).as(Seq("pos0", "line")))
    val freq = ex.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val kept = ex.join(freq.hint("shuffle_hash"), Seq("line"))
      .filter(col("df") < LineMinDocs ||
        length(col("line")) < CrawlLineMinChars)
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_lines"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos0"), col("line")))),
          x => x.getField("line")), "\n").as("dedup_text"))
    val withLines = doc
      // rebuilt is aggregate-derived and corpus-scaling — hinted
      // shuffled build (the t11/d16 never-guess-broadcast rule)
      .join(rebuilt.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("dedup_text", coalesce(col("dedup_text"), lit("")))
      .withColumn("n_removed",
        col("n_lines") - coalesce(col("n_kept_lines"), lit(0L)))

    // t40 repair + the widened structural round-trip pin
    val expectedTxt = graft.functions.CrawlPlantKernel.wrapCol(
      col("txt"), graft.functions.CrawlPlantKernel.T45Expected)
    val expected = concat(lit("Tom & Jerry <tag> \""), col("source"),
      lit("\" 'ok' ABC ! &bogus; "), expectedTxt)
    val repairedDf = withLines
      .withColumn("dehyph", regexp_replace(col("dedup_text"),
        "([a-z])-\\n([a-z])", "$1$2"))
      .withColumn("repaired",
        replace(col("dehyph"), lit("\n"), lit(" ")))
      .withColumn("n_hyphen_joins",
        ((length(col("dedup_text")) - length(col("dehyph"))) / 2)
          .cast("long"))
      .withColumn("n_wraps", (length(col("dehyph")) -
        length(replace(col("dehyph"), lit("\n"), lit(""))))
        .cast("long"))
      .withColumn("restored",
        when(col("repaired") === expected, 1L).otherwise(0L))

    // t43 sentence gate on the repaired text
    val sentDf = repairedDf
      .withColumn("prot", regexp_replace(col("repaired"),
        "\\b(Dr|No|St)\\.", "$1" + AbbrevSentinel))
      .withColumn("sents", filter(
        split(regexp_replace(col("prot"), "[.!?]+$", ""), "[.!?]+ +"),
        s => length(s) > 0))
      .withColumn("n_sentences", size(col("sents")).cast("long"))
      .withColumn("keep_c4",
        when(col("n_sentences") >= 3, 1L).otherwise(0L))

    // frontier dedup + the widened admission verdict
    val wc = Window.partitionBy(col("canon_url"))
    sentDf
      .withColumn("first_doc", min(col("doc_id")).over(wc))
      .withColumn("n_dups", count(lit(1)).over(wc).cast("long"))
      .withColumn("is_dup",
        (col("doc_id") =!= col("first_doc")).cast("long"))
      .withColumn("admitted",
        when(col("allowed") === 1L && col("is_dup") === 0L &&
          col("n_kept") > 0L && col("charset_ok") === 1L &&
          col("keep_c4") === 1L, 1L).otherwise(0L))
      .select(col("doc_id"), col("canon_url"), col("matched_rule"),
        col("allowed"), col("charset_class"), col("is_dup"),
        col("n_dups"), col("n_blocks"), col("n_kept"),
        col("n_entities"), col("n_unknown"), col("n_lines"),
        col("n_removed"), col("n_hyphen_joins"), col("n_wraps"),
        col("n_sentences"), col("keep_c4"), col("restored"),
        col("admitted"),
        when(col("admitted") === 1L, col("repaired")).otherwise(lit(""))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val ops: Seq[Op] = Seq(
    Op("t41_crawl_e2e", t41CrawlE2e, t41Sql),
    Op("t45_crawl_e2e_full", t45CrawlFull, t45Sql))

  /** The hex numeric-reference value as a DuckDB expression over a
    * piece `p` (nested-lambda digit walk — DuckDB has no conv()). */
  private def hexValSql(p: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1,
       |  length(regexp_extract($p, '^&#[xX]([0-9a-fA-F]{1,6});', 1))),
       |  q -> (CAST(strpos('0123456789abcdef', substring(lower(
       |      regexp_extract($p, '^&#[xX]([0-9a-fA-F]{1,6});', 1)),
       |      q, 1)) AS BIGINT) - 1)
       |    * power(16, length(regexp_extract($p,
       |      '^&#[xX]([0-9a-fA-F]{1,6});', 1)) - q)))
       |  AS BIGINT)"""

  private def isHitSql(p: String): String =
    s"""(regexp_extract($p, '^&([a-zA-Z]+);', 1) IN
       |  ('amp','lt','gt','quot','apos','nbsp')
       | OR COALESCE(TRY_CAST(regexp_extract($p, '^&#([0-9]{1,7});', 1)
       |   AS BIGINT) BETWEEN 32 AND 126, false)
       | OR COALESCE(${hexValSql(p)} BETWEEN 32 AND 126, false))"""

  lazy val t41Sql: String = {
    val dc =
      s"""CASE
         |  WHEN regexp_extract(p, '^&([a-zA-Z]+);', 1) IN
         |      ('amp','lt','gt','quot','apos','nbsp')
         |    THEN (CASE regexp_extract(p, '^&([a-zA-Z]+);', 1)
         |      WHEN 'amp' THEN '&' WHEN 'lt' THEN '<'
         |      WHEN 'gt' THEN '>' WHEN 'quot' THEN '"'
         |      WHEN 'apos' THEN chr(39) ELSE ' ' END)
         |      || regexp_replace(p, '^&[a-zA-Z]+;', '')
         |  WHEN TRY_CAST(regexp_extract(p, '^&#([0-9]{1,7});', 1)
         |      AS BIGINT) BETWEEN 32 AND 126
         |    THEN chr(CAST(regexp_extract(p, '^&#([0-9]{1,7});', 1)
         |        AS INTEGER))
         |      || regexp_replace(p, '^&#[0-9]{1,7};', '')
         |  WHEN ${hexValSql("p")} BETWEEN 32 AND 126
         |    THEN chr(CAST(${hexValSql("p")} AS INTEGER))
         |      || regexp_replace(p, '^&#[xX][0-9a-fA-F]{1,6};', '')
         |  ELSE p END"""
    s"""WITH d AS (
       |  SELECT doc_id, source, trim(text) AS txt,
       |    CAST(doc_id // 20 AS BIGINT) % 4 AS hv,
       |    CAST(doc_id // 80 AS BIGINT) % 5 AS pv
       |  FROM documents WHERE length(trim(text)) > 0),
       |du AS (
       |  SELECT *, CASE pv
       |      WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/ok/y'
       |      WHEN 2 THEN '/public/a' WHEN 3 THEN '/tmp/z'
       |      ELSE '/' END AS ppath
       |  FROM d),
       |raw AS (
       |  SELECT *, CASE hv
       |    WHEN 0 THEN 'HTTPS://WWW.' || upper(source)
       |      || '.COM:443/' || ppath || '/?utm_source=rss&z=9&a=1#top'
       |    WHEN 1 THEN 'http://' || source || '.com:80' || ppath
       |    WHEN 2 THEN 'https://' || upper(source)
       |      || '.COM' || ppath || '//?b=2&a=1&utm_campaign=x'
       |    ELSE 'https://www.' || source || '.com' || ppath
       |      || '?a=1&b=2'
       |    END AS raw_url
       |  FROM du),
       |parts AS (
       |  SELECT *,
       |    lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]*)', 1))
       |      AS hostport,
       |    regexp_replace(
       |      regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]*(.*)$$', 1),
       |      '#.*$$', '') AS pq
       |  FROM raw),
       |canon AS (
       |  SELECT doc_id, source, txt, scheme || '://' ||
       |    regexp_replace(CASE
       |      WHEN scheme = 'http'
       |        THEN regexp_replace(hostport, ':80$$', '')
       |      WHEN scheme = 'https'
       |        THEN regexp_replace(hostport, ':443$$', '')
       |      ELSE hostport END, '^www\\.', '')
       |    || regexp_replace(regexp_replace(
       |         regexp_extract(pq, '^([^?]*)', 1), '/+', '/', 'g'),
       |         '/$$', '')
       |    || CASE WHEN length(array_to_string(list_sort(list_filter(
       |         string_split(regexp_extract(pq, '\\?(.*)$$', 1), '&'),
       |         x -> NOT starts_with(x, 'utm_') AND x <> '')), '&'))
       |         > 0
       |       THEN '?' || array_to_string(list_sort(list_filter(
       |         string_split(regexp_extract(pq, '\\?(.*)$$', 1), '&'),
       |         x -> NOT starts_with(x, 'utm_') AND x <> '')), '&')
       |       ELSE '' END AS canon_url
       |  FROM parts),
       |rb AS (
       |  SELECT *, regexp_extract(canon_url,
       |    '^[a-z]+://[^/?#]*([^?]*)', 1) AS cpath
       |  FROM canon),
       |rbv AS (
       |  SELECT *,
       |    COALESCE(list_max(list_transform(list_filter(
       |      ['/private', '/tmp', '/search'],
       |      pt -> starts_with(cpath, pt)), pt -> length(pt))), -1)
       |      AS dlen,
       |    COALESCE(list_max(list_transform(list_filter(
       |      ['/private/ok'],
       |      pt -> starts_with(cpath, pt)), pt -> length(pt))), -1)
       |      AS alen
       |  FROM rb),
       |rbw AS (
       |  SELECT *, CAST(CASE WHEN alen >= dlen THEN 1 ELSE 0 END
       |      AS BIGINT) AS allowed,
       |    CASE WHEN alen < 0 AND dlen < 0 THEN ''
       |      WHEN alen >= dlen THEN
       |        list_filter(['/private/ok'],
       |          pt -> length(pt) = alen)[1]
       |      ELSE list_filter(['/private', '/tmp', '/search'],
       |        pt -> starts_with(cpath, pt) AND length(pt) = dlen)[1]
       |      END AS matched_rule
       |  FROM rbv),
       |pg AS (
       |  SELECT *,
       |    '<html><head><title>d</title><style>.m{color:red}</style>'
       |    || '<script>var s="<div>decoy</div>";</script></head><body>'
       |    || '<nav><a href="/">Home</a> <a href="/a">About</a> '
       |    || '<a href="/c">Contact</a></nav><div>'
       |    || 'Tom &amp; Jerry &lt;tag&gt; &quot;' || source
       |    || '&quot; &#39;ok&#39; A&#66;C &#x21; &bogus; '
       |    || array_to_string(list_transform(string_split(txt, ' '),
       |        (x, i) ->
       |          (CASE WHEN i % 5 = 2 AND length(x) >= 4
       |              AND regexp_matches(substr(x, 2, 2), '^[a-z]{2}$$')
       |            THEN substr(x, 1, 2) || '-' || chr(10)
       |              || substr(x, 3)
       |            ELSE x END)
       |          || (CASE WHEN i < len(string_split(txt, ' '))
       |            THEN (CASE WHEN i % 6 = 0 THEN chr(10)
       |              ELSE ' ' END)
       |            ELSE '' END)), '')
       |    || ' <a href="#ref">' || source || '</a></div>'
       |    || '<div><a href="/p">Privacy</a> | <a href="/t">Terms</a>'
       |    || '</div></body></html>' AS page
       |  FROM rbw),
       |bl AS (
       |  SELECT *, list_filter(list_transform(
       |    string_split_regex(
       |      regexp_replace(regexp_replace(regexp_replace(page,
       |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |        '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
       |      '(?i)</?(?:nav|div|p|body|html)[^>]*>'),
       |    b -> struct_pack(
       |      btxt := trim(regexp_replace(regexp_replace(b,
       |        '<[^>]*>', ' ', 'g'), '[ \\t]+', ' ', 'g')),
       |      lc := CAST(COALESCE(list_sum(list_transform(
       |        regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1),
       |        x -> length(x))), 0) AS BIGINT))),
       |    s -> length(struct_extract(s, 'btxt')) > 0) AS blocks
       |  FROM pg),
       |ex AS (
       |  SELECT *, CAST(len(blocks) AS BIGINT) AS n_blocks,
       |    list_filter(blocks, s -> struct_extract(s, 'lc')
       |      * $HtmlLinkDensityNum
       |      <= length(struct_extract(s, 'btxt'))) AS keptb
       |  FROM bl),
       |ex2 AS (
       |  SELECT *, CAST(len(keptb) AS BIGINT) AS n_kept,
       |    array_to_string(list_transform(keptb,
       |      s -> struct_extract(s, 'btxt')), ' ') AS extracted
       |  FROM ex),
       |en AS (
       |  SELECT *, string_split(replace(extracted, '&',
       |    chr(1) || '&'), chr(1)) AS pieces
       |  FROM ex2),
       |en2 AS (
       |  SELECT *, array_to_string(list_transform(pieces, p ->
       |      $dc), '') AS decoded,
       |    CAST(list_sum(list_transform(pieces, p ->
       |      CASE WHEN ${isHitSql("p")} THEN 1 ELSE 0 END))
       |      AS BIGINT) AS n_entities,
       |    CAST(list_sum(list_transform(pieces, p ->
       |      CASE WHEN starts_with(p, '&') AND NOT ${isHitSql("p")}
       |        THEN 1 ELSE 0 END)) AS BIGINT) AS n_unknown
       |  FROM en),
       |rp AS (
       |  SELECT *, regexp_replace(decoded,
       |    '([a-z])-\\n([a-z])', '\\1\\2', 'g') AS dehyph
       |  FROM en2),
       |rp2 AS (
       |  SELECT *, replace(dehyph, chr(10), ' ') AS repaired,
       |    CAST((length(decoded) - length(dehyph)) / 2 AS BIGINT)
       |      AS n_hyphen_joins,
       |    CAST(length(dehyph) - length(replace(dehyph, chr(10), ''))
       |      AS BIGINT) AS n_wraps
       |  FROM rp),
       |rp3 AS (
       |  SELECT *, CAST(CASE WHEN repaired =
       |      'Tom & Jerry <tag> "' || source || '" ' || chr(39)
       |      || 'ok' || chr(39) || ' ABC ! &bogus; ' || txt || ' '
       |      || source
       |    THEN 1 ELSE 0 END AS BIGINT) AS restored
       |  FROM rp2),
       |fr AS (
       |  SELECT *, MIN(doc_id) OVER (PARTITION BY canon_url)
       |      AS first_doc,
       |    CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT)
       |      AS n_dups
       |  FROM rp3)
       |SELECT doc_id, canon_url, cpath, matched_rule, allowed,
       |  CAST(CASE WHEN doc_id <> first_doc THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_dup,
       |  n_dups, n_blocks, n_kept, n_entities, n_unknown,
       |  n_hyphen_joins, n_wraps, restored,
       |  CAST(CASE WHEN allowed = 1 AND doc_id = first_doc
       |    AND n_kept > 0 THEN 1 ELSE 0 END AS BIGINT) AS admitted,
       |  CASE WHEN allowed = 1 AND doc_id = first_doc AND n_kept > 0
       |    THEN repaired ELSE '' END AS clean_text
       |FROM fr ORDER BY doc_id""".stripMargin
  }

  /** Full-composition oracle for t45: t41's chain with the charset
    * CTEs (t42's DFA), the planted header/footer + terminator page,
    * the line-frequency dedup CTEs (t44's rule), and the sentence
    * CTEs (t43's splitter) spliced in. */
  lazy val t45Sql: String = {
    val dc =
      s"""CASE
         |  WHEN regexp_extract(p, '^&([a-zA-Z]+);', 1) IN
         |      ('amp','lt','gt','quot','apos','nbsp')
         |    THEN (CASE regexp_extract(p, '^&([a-zA-Z]+);', 1)
         |      WHEN 'amp' THEN '&' WHEN 'lt' THEN '<'
         |      WHEN 'gt' THEN '>' WHEN 'quot' THEN '"'
         |      WHEN 'apos' THEN chr(39) ELSE ' ' END)
         |      || regexp_replace(p, '^&[a-zA-Z]+;', '')
         |  WHEN TRY_CAST(regexp_extract(p, '^&#([0-9]{1,7});', 1)
         |      AS BIGINT) BETWEEN 32 AND 126
         |    THEN chr(CAST(regexp_extract(p, '^&#([0-9]{1,7});', 1)
         |        AS INTEGER))
         |      || regexp_replace(p, '^&#[0-9]{1,7};', '')
         |  WHEN ${hexValSql("p")} BETWEEN 32 AND 126
         |    THEN chr(CAST(${hexValSql("p")} AS INTEGER))
         |      || regexp_replace(p, '^&#[xX][0-9a-fA-F]{1,6};', '')
         |  ELSE p END"""
    val sentinel = TextAnalysis.AbbrevSentinel
    s"""WITH d AS (
       |  SELECT doc_id, source, trim(text) AS txt,
       |    CAST(doc_id // 20 AS BIGINT) % 4 AS hv,
       |    CAST(doc_id // 80 AS BIGINT) % 5 AS pv
       |  FROM documents WHERE length(trim(text)) > 0),
       |du AS (
       |  SELECT *, CASE pv
       |      WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/ok/y'
       |      WHEN 2 THEN '/public/a' WHEN 3 THEN '/tmp/z'
       |      ELSE '/' END AS ppath
       |  FROM d),
       |raw AS (
       |  SELECT *, CASE hv
       |    WHEN 0 THEN 'HTTPS://WWW.' || upper(source)
       |      || '.COM:443/' || ppath || '/?utm_source=rss&z=9&a=1#top'
       |    WHEN 1 THEN 'http://' || source || '.com:80' || ppath
       |    WHEN 2 THEN 'https://' || upper(source)
       |      || '.COM' || ppath || '//?b=2&a=1&utm_campaign=x'
       |    ELSE 'https://www.' || source || '.com' || ppath
       |      || '?a=1&b=2'
       |    END AS raw_url
       |  FROM du),
       |parts AS (
       |  SELECT *,
       |    lower(regexp_extract(raw_url, '^([A-Za-z]+)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]*)', 1))
       |      AS hostport,
       |    regexp_replace(
       |      regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]*(.*)$$', 1),
       |      '#.*$$', '') AS pq
       |  FROM raw),
       |canon AS (
       |  SELECT doc_id, source, txt, scheme || '://' ||
       |    regexp_replace(CASE
       |      WHEN scheme = 'http'
       |        THEN regexp_replace(hostport, ':80$$', '')
       |      WHEN scheme = 'https'
       |        THEN regexp_replace(hostport, ':443$$', '')
       |      ELSE hostport END, '^www\\.', '')
       |    || regexp_replace(regexp_replace(
       |         regexp_extract(pq, '^([^?]*)', 1), '/+', '/', 'g'),
       |         '/$$', '')
       |    || CASE WHEN length(array_to_string(list_sort(list_filter(
       |         string_split(regexp_extract(pq, '\\?(.*)$$', 1), '&'),
       |         x -> NOT starts_with(x, 'utm_') AND x <> '')), '&'))
       |         > 0
       |       THEN '?' || array_to_string(list_sort(list_filter(
       |         string_split(regexp_extract(pq, '\\?(.*)$$', 1), '&'),
       |         x -> NOT starts_with(x, 'utm_') AND x <> '')), '&')
       |       ELSE '' END AS canon_url
       |  FROM parts),
       |rb AS (
       |  SELECT *, regexp_extract(canon_url,
       |    '^[a-z]+://[^/?#]*([^?]*)', 1) AS cpath
       |  FROM canon),
       |rbv AS (
       |  SELECT *,
       |    COALESCE(list_max(list_transform(list_filter(
       |      ['/private', '/tmp', '/search'],
       |      pt -> starts_with(cpath, pt)), pt -> length(pt))), -1)
       |      AS dlen,
       |    COALESCE(list_max(list_transform(list_filter(
       |      ['/private/ok'],
       |      pt -> starts_with(cpath, pt)), pt -> length(pt))), -1)
       |      AS alen
       |  FROM rb),
       |rbw AS (
       |  SELECT *, CAST(CASE WHEN alen >= dlen THEN 1 ELSE 0 END
       |      AS BIGINT) AS allowed,
       |    CASE WHEN alen < 0 AND dlen < 0 THEN ''
       |      WHEN alen >= dlen THEN
       |        list_filter(['/private/ok'],
       |          pt -> length(pt) = alen)[1]
       |      ELSE list_filter(['/private', '/tmp', '/search'],
       |        pt -> starts_with(cpath, pt) AND length(pt) = dlen)[1]
       |      END AS matched_rule
       |  FROM rbv),
       |csb AS (
       |  SELECT doc_id, list_transform(
       |    generate_series(1, least(24, length(txt))),
       |    i -> CAST(ascii(substring(txt, CAST(i AS INTEGER), 1))
       |      AS INTEGER)) AS a
       |  FROM rbw),
       |csp AS (
       |  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
       |    WHEN 0 THEN a
       |    WHEN 1 THEN [99, 97, 102, 195, 169, 32] || a
       |    WHEN 2 THEN [99, 97, 102, 233, 32] || a
       |    ELSE a || [195] END AS bytes
       |  FROM csb),
       |csv AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(list_sum(list_transform(bytes,
       |        b -> CASE WHEN b >= 128 THEN 1 ELSE 0 END)) AS BIGINT)
       |        = 0 THEN 'ascii'
       |      WHEN list_reduce(list_prepend(0, bytes), (st, b) -> CASE
       |        WHEN st = 4 THEN 4
       |        WHEN st > 0 THEN
       |          (CASE WHEN b >= 128 AND b < 192 THEN st - 1
       |            ELSE 4 END)
       |        WHEN b < 128 THEN 0
       |        WHEN b >= 194 AND b < 224 THEN 1
       |        WHEN b >= 224 AND b < 240 THEN 2
       |        WHEN b >= 240 AND b < 245 THEN 3
       |        ELSE 4 END) = 0 THEN 'utf-8'
       |      ELSE 'legacy' END AS charset_class
       |  FROM csp),
       |pg AS (
       |  SELECT *,
       |    '<html><head><title>d</title><style>.m{color:red}</style>'
       |    || '<script>var s="<div>decoy</div>";</script></head><body>'
       |    || '<nav><a href="/">Home</a> <a href="/a">About</a> '
       |    || '<a href="/c">Contact</a></nav><div>'
       |    || 'subscribe to source ' || CAST(doc_id % 5 AS VARCHAR)
       |    || ' newsletter' || chr(10)
       |    || 'Tom &amp; Jerry &lt;tag&gt; &quot;' || source
       |    || '&quot; &#39;ok&#39; A&#66;C &#x21; &bogus; '
       |    || array_to_string(list_transform(string_split(txt, ' '),
       |        (x, i) ->
       |          (CASE WHEN i % 11 = 3
       |            THEN ['Dr. ', 'No. ', 'St. '][((i // 11) % 3) + 1]
       |            ELSE '' END)
       |          || (CASE WHEN i % 5 = 2 AND length(x) >= 4
       |              AND regexp_matches(substr(x, 2, 2), '^[a-z]{2}$$')
       |            THEN substr(x, 1, 2) || '-' || chr(10)
       |              || substr(x, 3)
       |            ELSE x END)
       |          || (CASE WHEN i < len(string_split(txt, ' '))
       |            THEN (CASE WHEN i % 7 = 0
       |                THEN ['. ', '! ', '? '][((i // 7) % 3) + 1]
       |              WHEN i % 6 = 0 THEN chr(10)
       |              ELSE ' ' END)
       |            ELSE '' END)), '')
       |    || chr(10) || 'all rights reserved</div>'
       |    || '<div><a href="/p">Privacy</a> | <a href="/t">Terms</a>'
       |    || '</div></body></html>' AS page
       |  FROM rbw),
       |bl AS (
       |  SELECT *, list_filter(list_transform(
       |    string_split_regex(
       |      regexp_replace(regexp_replace(regexp_replace(page,
       |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |        '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
       |      '(?i)</?(?:nav|div|p|body|html)[^>]*>'),
       |    b -> struct_pack(
       |      btxt := trim(regexp_replace(regexp_replace(b,
       |        '<[^>]*>', ' ', 'g'), '[ \\t]+', ' ', 'g')),
       |      lc := CAST(COALESCE(list_sum(list_transform(
       |        regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1),
       |        x -> length(x))), 0) AS BIGINT))),
       |    s -> length(struct_extract(s, 'btxt')) > 0) AS blocks
       |  FROM pg),
       |ex AS (
       |  SELECT *, CAST(len(blocks) AS BIGINT) AS n_blocks,
       |    list_filter(blocks, s -> struct_extract(s, 'lc')
       |      * $HtmlLinkDensityNum
       |      <= length(struct_extract(s, 'btxt'))) AS keptb
       |  FROM bl),
       |ex2 AS (
       |  SELECT *, CAST(len(keptb) AS BIGINT) AS n_kept,
       |    array_to_string(list_transform(keptb,
       |      s -> struct_extract(s, 'btxt')), ' ') AS extracted
       |  FROM ex),
       |en AS (
       |  SELECT *, string_split(replace(extracted, '&',
       |    chr(1) || '&'), chr(1)) AS pieces
       |  FROM ex2),
       |en2 AS (
       |  SELECT *, array_to_string(list_transform(pieces, p ->
       |      $dc), '') AS decoded,
       |    CAST(list_sum(list_transform(pieces, p ->
       |      CASE WHEN ${isHitSql("p")} THEN 1 ELSE 0 END))
       |      AS BIGINT) AS n_entities,
       |    CAST(list_sum(list_transform(pieces, p ->
       |      CASE WHEN starts_with(p, '&') AND NOT ${isHitSql("p")}
       |        THEN 1 ELSE 0 END)) AS BIGINT) AS n_unknown
       |  FROM en),
       |lnx AS (
       |  SELECT doc_id,
       |    unnest(string_split(decoded, chr(10))) AS line,
       |    unnest(generate_series(1,
       |      len(string_split(decoded, chr(10))))) AS pos
       |  FROM en2),
       |lfreq AS (
       |  SELECT line, count(DISTINCT doc_id) AS df
       |  FROM lnx GROUP BY 1),
       |lkept AS (
       |  SELECT l.doc_id, l.pos, l.line FROM lnx l
       |  JOIN lfreq f ON l.line = f.line
       |  WHERE f.df < ${TextAnalysis.LineMinDocs}
       |    OR length(l.line) < $CrawlLineMinChars),
       |lreb AS (
       |  SELECT doc_id, count(*) AS n_kept_lines,
       |    string_agg(line, chr(10) ORDER BY pos) AS dedup_text
       |  FROM lkept GROUP BY doc_id),
       |ld AS (
       |  SELECT e.*,
       |    CAST(len(string_split(e.decoded, chr(10))) AS BIGINT)
       |      AS n_lines,
       |    COALESCE(r.dedup_text, '') AS dedup_text,
       |    CAST(len(string_split(e.decoded, chr(10)))
       |      - COALESCE(r.n_kept_lines, 0) AS BIGINT) AS n_removed
       |  FROM en2 e LEFT JOIN lreb r ON e.doc_id = r.doc_id),
       |rp AS (
       |  SELECT *, regexp_replace(dedup_text,
       |    '([a-z])-\\n([a-z])', '\\1\\2', 'g') AS dehyph
       |  FROM ld),
       |rp2 AS (
       |  SELECT *, replace(dehyph, chr(10), ' ') AS repaired,
       |    CAST((length(dedup_text) - length(dehyph)) / 2 AS BIGINT)
       |      AS n_hyphen_joins,
       |    CAST(length(dehyph) - length(replace(dehyph, chr(10), ''))
       |      AS BIGINT) AS n_wraps
       |  FROM rp),
       |rp3 AS (
       |  SELECT *, CAST(CASE WHEN repaired =
       |      'Tom & Jerry <tag> "' || source || '" ' || chr(39)
       |      || 'ok' || chr(39) || ' ABC ! &bogus; '
       |      || array_to_string(list_transform(string_split(txt, ' '),
       |        (x, i) ->
       |          (CASE WHEN i % 11 = 3
       |            THEN ['Dr. ', 'No. ', 'St. '][((i // 11) % 3) + 1]
       |            ELSE '' END)
       |          || x
       |          || (CASE WHEN i < len(string_split(txt, ' '))
       |            THEN (CASE WHEN i % 7 = 0
       |                THEN ['. ', '! ', '? '][((i // 7) % 3) + 1]
       |              ELSE ' ' END)
       |            ELSE '' END)), '')
       |    THEN 1 ELSE 0 END AS BIGINT) AS restored
       |  FROM rp2),
       |sn AS (
       |  SELECT *, list_filter(string_split_regex(
       |      regexp_replace(
       |        regexp_replace(repaired, '\\b(Dr|No|St)\\.',
       |          '\\1$sentinel', 'g'),
       |        '[.!?]+$$', ''),
       |      '[.!?]+ +'), x -> length(x) > 0) AS sents
       |  FROM rp3),
       |sn2 AS (
       |  SELECT *, CAST(len(sents) AS BIGINT) AS n_sentences,
       |    CAST(CASE WHEN len(sents) >= 3 THEN 1 ELSE 0 END
       |      AS BIGINT) AS keep_c4
       |  FROM sn),
       |fr AS (
       |  SELECT s.*, c.charset_class,
       |    CAST(CASE WHEN c.charset_class <> 'legacy' THEN 1 ELSE 0
       |      END AS BIGINT) AS charset_ok,
       |    MIN(doc_id) OVER (PARTITION BY canon_url) AS first_doc,
       |    CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT)
       |      AS n_dups
       |  FROM sn2 s JOIN csv c USING (doc_id))
       |SELECT doc_id, canon_url, matched_rule, allowed,
       |  charset_class,
       |  CAST(CASE WHEN doc_id <> first_doc THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_dup,
       |  n_dups, n_blocks, n_kept, n_entities, n_unknown, n_lines,
       |  n_removed, n_hyphen_joins, n_wraps, n_sentences, keep_c4,
       |  restored,
       |  CAST(CASE WHEN allowed = 1 AND doc_id = first_doc
       |    AND n_kept > 0 AND charset_ok = 1 AND keep_c4 = 1
       |    THEN 1 ELSE 0 END AS BIGINT) AS admitted,
       |  CASE WHEN allowed = 1 AND doc_id = first_doc AND n_kept > 0
       |    AND charset_ok = 1 AND keep_c4 = 1
       |    THEN repaired ELSE '' END AS clean_text
       |FROM fr ORDER BY doc_id""".stripMargin
  }
}
