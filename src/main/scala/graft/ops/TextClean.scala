package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII scrubbing for training corpora: detect and redact e-mail
  * addresses, IPv4 addresses and international-format phone numbers.
  * Pure `regexp_replace`/`regexp_extract_all` compositions — codegen'd
  * narrow projections, no shuffle, full pushdown; the patterns stay in
  * the regex subset shared by Java (Spark) and RE2 (DuckDB, re2 in Go)
  * so the transform is engine-replayable: no backreferences, no
  * lookaround.
  */
object TextClean {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "(\\d{1,3}\\.){3}\\d{1,3}"
  /** +CC-NNN…: international prefix then 2+ separator-delimited digit
    * groups — deliberately strict (no bare 10-digit runs) to keep the
    * false-positive rate near zero on numeric-heavy corpora.
    */
  val PhoneRe = "\\+\\d{1,3}[- ]\\d{3}[- ]\\d{3,4}(-\\d{3,4})?"

  def countEmails(text: Column): Column = countOf(text, EmailRe)
  def countIpv4(text: Column): Column = countOf(text, Ipv4Re)
  def countPhones(text: Column): Column = countOf(text, PhoneRe)

  private def countOf(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  /** Luhn checksum sum over a digit string (ISO/IEC 7812): from the
    * RIGHT, every second digit doubles (minus 9 past 9), all sum. Pure
    * HOF arithmetic (transform over positions + aggregate) — codegen,
    * engine-replayable; public so fixtures can mint valid check digits
    * (append '0', check = (10 − sum mod 10) mod 10).
    */
  def luhnSum(s: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(s)), i => {
        val d = ascii(substr(s, i, lit(1))) - lit(48)
        val dbl = d * 2
        when(pmod(length(s) - i, lit(2)) === 1,
          when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)

  def luhnValid(s: Column): Column = pmod(luhnSum(s), lit(10)) === 0

  /** Digit runs that are payment-card SHAPED: text split on non-digits
    * (the same `[^0-9]+` split both engines own — RE2 has no lookbehind,
    * so boundary-anchored extraction can't be mirrored), runs of 13–19
    * digits kept. Separator-embedded numbers ("4111 1111 …") appear as
    * their 4-digit groups and are NOT candidates — deliberate: the
    * filter targets contiguous leaked PANs with a near-zero
    * false-positive rate, the same trade [[PhoneRe]] makes.
    */
  def cardCandidates(text: Column): Column =
    filter(split(text, "[^0-9]+"),
      t => length(t) >= 13 && length(t) <= 19)

  /** Count of card-shaped digit runs that pass the Luhn check — the
    * high-precision PAN detector for the PII gate (a 16-digit run with a
    * valid checksum is a leaked card with probability ~10× a random
    * run's). Pure per-row projection: no shuffle, full pushdown.
    */
  def countLuhnCards(text: Column): Column =
    size(filter(cardCandidates(text), c => luhnValid(c)))

  /** Text with all three PII classes replaced by typed placeholders.
    * Phone first (its digit groups may contain things IP would then
    * half-match), then e-mail, then IP — fixed order so every engine
    * replaying the chain agrees.
    */
  def redactPii(text: Column): Column = {
    val p1 = regexp_replace(text, PhoneRe, "<PHONE>")
    val p2 = regexp_replace(p1, EmailRe, "<EMAIL>")
    regexp_replace(p2, Ipv4Re, "<IP>")
  }

  /** Pre-tokenization normalization: lowercase, control characters out,
    * whitespace runs collapsed, edges trimmed — the canonical form fed to
    * exact dedup and tokenizers so that byte-level noise (tabs, CRs,
    * doubled spaces, case) doesn't split otherwise-identical documents.
    * All regexes live in the Java∩RE2 subset (like the PII patterns), so
    * any engine replays the chain identically; pure codegen projection.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f\\x7f]", " "),
      " {2,}", " "))

  /** Deterministic token-dropout augmentation (the EDA random-deletion
    * arm, Wei & Zou 2019, made replayable): each token position drops
    * with probability `dropBp`/10⁴ keyed on md5(seed:doc:pos) — so the
    * SAME corpus, seed, and rate reproduce the augmented text
    * byte-identically on any engine or rerun (no RNG state to
    * coordinate), while different seeds give independent augmentation
    * epochs. Positions, not token identities, key the draw: repeated
    * tokens drop independently.
    *
    * Pure per-row projection — the position filter runs inside one
    * codegen'd HOF against the doc's own token array; no explode, no
    * shuffle, corpus-linear. The 8-hex-digit draw makes the mod-10⁴
    * bias < 2⁻¹⁸ — below any training-relevant resolution and, being
    * deterministic, identical in the oracle.
    *
    * Out: input columns + `(text_aug, n_tokens, n_dropped)`.
    */
  def tokenDropout(docs: DataFrame, dropBp: Int, seed: String = "aug1",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dropBp >= 0 && dropBp <= 10000, s"dropBp out of range: $dropBp")
    val t = col("_toks")
    docs
      .withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("_keptPos", filter(
        when(size(t) > 0, sequence(lit(0), size(t) - 1))
          .otherwise(expr("cast(array() as array<int>)")),
        p => pmod(conv(substring(md5(concat(lit(s"$seed:"),
          col(idCol).cast("string"), lit(":"), p.cast("string"))), 1, 8),
          16, 10).cast("long"), lit(10000L)) >= dropBp))
      .withColumn("text_aug",
        concat_ws(" ", transform(col("_keptPos"), p => element_at(t, p + 1))))
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_dropped",
        (size(t) - size(col("_keptPos"))).cast("long"))
      .drop("_toks", "_keptPos")
  }

  /** Markdown structure profile — the layout signals a web/docs corpus
    * curator gates on (a "document" that is one giant paragraph, a
    * link farm, or a table dump each needs different handling than
    * structured prose): per doc, line counts by markdown role
    * (ATX headings + max depth, list items, code-fence lines, table
    * rows), inline link count, and an `is_markdownish` verdict. Pure
    * line-array projection — the line split materializes once and every
    * counter is a HOF filter over it (bounded by the doc's own lines);
    * the regexes live in the Java∩RE2 subset like the PII patterns, so
    * both engines classify identically. No shuffle, corpus-linear.
    *
    * Out: input id + `(n_lines, n_headings, max_heading_depth,
    * n_list_items, n_fence_lines, n_table_rows, n_links,
    * is_markdownish)`.
    */
  def markdownStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = col("_lines")
    docs
      .withColumn("_lines", split(col(textCol), "\n"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_headings",
        size(filter(lines, l => l.rlike("^#{1,6} "))).cast("long"))
      .withColumn("max_heading_depth",
        coalesce(array_max(transform(filter(lines, l => l.rlike("^#{1,6} ")),
          l => length(regexp_extract(l, "^(#{1,6}) ", 1)))), lit(0))
          .cast("long"))
      .withColumn("n_list_items",
        size(filter(lines, l => l.rlike("^([-*+]|[0-9]+\\.) ")))
          .cast("long"))
      .withColumn("n_fence_lines",
        size(filter(lines, l => l.rlike("^```"))).cast("long"))
      .withColumn("n_table_rows",
        size(filter(lines, l => l.rlike("^\\|.*\\|$"))).cast("long"))
      .withColumn("n_links",
        size(regexp_extract_all(col(textCol),
          lit("\\[[^\\]]*\\]\\([^)]*\\)"), lit(0))).cast("long"))
      .withColumn("is_markdownish",
        col("n_headings") + col("n_list_items") + col("n_fence_lines") > 0L)
      .select(col(idCol), col("n_lines"), col("n_headings"),
        col("max_heading_depth"), col("n_list_items"), col("n_fence_lines"),
        col("n_table_rows"), col("n_links"), col("is_markdownish"))
  }

  /** Canonical URL form for crawl dedup — the normalization a web-scale
    * pipeline applies before URL-level dedup so that byte-different
    * spellings of the same resource collapse:
    *   - fragment dropped;
    *   - scheme and host lowercased; default ports (:80/:443) stripped;
    *   - path case preserved (paths are case-sensitive), trailing
    *     slashes stripped, empty path → "/";
    *   - tracking params (utm_*, fbclid, gclid, ref) dropped, the rest
    *     byte-sorted (ASCII), so param order doesn't split a group.
    * Pure codegen projection in the Java∩RE2 regex subset (engine-
    * replayable, like the PII patterns). The param-filter lambda closes
    * over the extracted query string (re-evaluated per element) — bounded
    * by the handful of params a URL carries, per-row constant work.
    */
  def urlCanonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val base = regexp_replace(noFrag, "\\?.*", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)),
      ":(80|443)$", "")
    val rawPath =
      regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/.*)?$", 1)
    val path = when(regexp_replace(rawPath, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(rawPath, "/+$", ""))
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=")))
    val canonQ = array_join(params, "&")
    concat(scheme, lit("://"), host, path,
      when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ)))
  }

  /** Gopher-rule quality flags (Rae et al. 2021, §A1.1 — the heuristic
    * document filter FineWeb/Dolma descend from), one boolean per rule
    * plus the conjunction `pass_gopher`:
    *   word count in [50, 100k]; mean word length in [3, 10] chars;
    *   symbol ('#'/'...') to word ratio ≤ 0.1; ≥80% of words contain an
    *   alphabetic char; ≥2 stopwords; ≤90% bullet-started lines; ≤30%
    *   ellipsis-ended lines.
    * Every ratio test is cross-multiplied into BIGINT comparisons
    * (`n_symbols*10 <= n_words`) — no division, no doubles, so any
    * engine replays the flags bit-for-bit. Pure projection, no shuffle;
    * the word/line arrays are materialized as columns BEFORE the filter
    * lambdas (the measured HOF re-evaluation trap). Words split on \s+
    * (kept inside the Java∩RE2 subset — no \x0B in corpus text).
    */
  def gopherRules(docs: DataFrame, textCol: String = "text",
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "is")): DataFrame =
    docs
      .withColumn("_words", filter(split(col(textCol), "\\s+"), w => w =!= ""))
      .withColumn("_lines", filter(split(col(textCol), "\n"), l => l =!= ""))
      .withColumn("n_words", size(col("_words")).cast("long"))
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(col("_words"), w => w.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_stopwords",
        size(filter(col("_words"), w => w.isInCollection(stopwords))).cast("long"))
      .withColumn("n_symbols",
        (size(regexp_extract_all(col(textCol), lit("#"), lit(0)))
          + size(regexp_extract_all(col(textCol), lit("\\.\\.\\."), lit(0))))
          .cast("long"))
      .withColumn("n_bullet_lines",
        size(filter(col("_lines"), l => l.rlike("^[-*]"))).cast("long"))
      .withColumn("n_ellipsis_lines",
        size(filter(col("_lines"), l => l.rlike("\\.\\.\\.$"))).cast("long"))
      .withColumn("chars_no_ws",
        length(regexp_replace(col(textCol), "\\s", "")).cast("long"))
      .withColumn("pass_word_count",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("pass_word_shape",
        col("chars_no_ws") >= col("n_words") * 3 &&
          col("chars_no_ws") <= col("n_words") * 10)
      .withColumn("pass_symbols", col("n_symbols") * 10 <= col("n_words"))
      .withColumn("pass_alpha",
        col("n_alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("pass_stopwords", col("n_stopwords") >= 2L)
      .withColumn("pass_bullets",
        col("n_bullet_lines") * 10 <= col("n_lines") * 9)
      .withColumn("pass_ellipsis",
        col("n_ellipsis_lines") * 10 <= col("n_lines") * 3)
      .withColumn("pass_gopher",
        col("pass_word_count") && col("pass_word_shape") &&
          col("pass_symbols") && col("pass_alpha") && col("pass_stopwords") &&
          col("pass_bullets") && col("pass_ellipsis"))
      .drop("_words", "_lines")

  /** Corpus-level line deduplication (the C4 rule): a line whose corpus
    * occurrence count reaches `minDf` is boilerplate — navigation, cookie
    * banners, footers — and survives only at its FIRST corpus position
    * (min (doc_id, pos)); rarer lines all stay. Returns one row per doc
    * that keeps ≥1 line: `doc_id, n_kept, text` (kept lines rejoined in
    * order).
    *
    * Distributed shape: one posexplode, one line-keyed aggregate (count +
    * min position, map-side combinable), one join back on the line key,
    * one doc-keyed reassembly — work scales with corpus lines, the
    * line-stats table with DISTINCT lines; no all-pairs stage anywhere.
    * First-position is arg-min over the encoded key `doc_id*100000+pos`
    * (docs hold ≪100k lines) — a plain BIGINT min every engine agrees on,
    * instead of struct-compare semantics.
    *
    * In: `doc_id` plus `lines: array<string>`.
    */
  def lineDedup(docs: DataFrame, minDf: Long = 3L): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .withColumn("pos_key", col("doc_id") * 100000L + col("pos"))
    val stats = exploded.groupBy("line").agg(
      count(lit(1)).as("df"),
      min("pos_key").as("first_key"))
    exploded.join(stats, "line")
      .filter(col("df") < minDf || col("pos_key") === col("first_key"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x("line")),
          "\n").as("text"))
  }

  /** PER-DOMAIN boilerplate removal (the CCNet/RefinedWeb refinement of
    * the corpus-level C4 rule in [[lineDedup]]): a line is boilerplate
    * WITHIN a group (site, dump, crawl `source`) when it appears in
    * ≥ `minDocs` DISTINCT documents of that group AND in
    * ≥ `minFracBp`/10⁴ of the group's documents — and is then removed
    * EVERYWHERE in that group, with no first-survivor: per-site chrome
    * (nav bars, cookie banners, footers) carries no content at any
    * position. The same line in another group below threshold is left
    * alone — which is the point of grouping: "all rights reserved" is
    * chrome on one site and quoted prose on another, and a corpus-global
    * df test cannot tell them apart. Emits one row per input doc with
    * ≥1 line: `doc_id, n_kept, n_removed, text` (kept lines rejoined in
    * order; a fully-stripped doc keeps its row with n_kept=0, text="" —
    * downstream length filters want to SEE the husk, not lose it).
    *
    * Distributed shape: one posexplode; a (group,line)-keyed distinct-doc
    * count (dedup on (group,line,doc) then count — the dedup's partial
    * aggregation absorbs within-doc repeats map-side); group sizes from
    * one doc-level aggregate; one left join back on (group,line) against
    * the (small, chrome-only) boilerplate set; one doc-keyed reassembly.
    * Work scales with corpus lines, the stats table with distinct
    * (group,line) pairs — no all-pairs stage. The fraction test is
    * integer cross-multiplication (df·10⁴ ≥ minFracBp·n_docs), exact in
    * any engine; BIGINT-safe to 10¹⁴ docs per group.
    *
    * In: `doc_id`, group column `grpCol`, `lines: array<string>`.
    */
  def boilerplate(docs: DataFrame, grpCol: String = "source",
      minDocs: Long = 3L, minFracBp: Long = 5000L): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), col(grpCol).as("_grp"),
        posexplode(col("lines")).as(Seq("pos", "line")))
    val groupSizes = docs
      .select(col(grpCol).as("_grp"), col("doc_id")).distinct()
      .groupBy("_grp").agg(count(lit(1)).as("n_docs"))
    val boiler = exploded.select("_grp", "line", "doc_id").distinct()
      .groupBy("_grp", "line").agg(count(lit(1)).as("df"))
      .join(groupSizes, "_grp")
      .filter(col("df") >= minDocs &&
        col("df") * 10000L >= lit(minFracBp) * col("n_docs"))
      .select(col("_grp"), col("line"), lit(1).as("_b"))
    exploded.join(boiler, Seq("_grp", "line"), "left")
      .groupBy("doc_id")
      .agg(
        sum(when(col("_b").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("_b").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_b").isNull, struct(col("pos"), col("line"))))),
            x => x("line")),
          "\n").as("text"))
  }

  /** WITHIN-document repeated-line removal (the paragraph-dedup intake
    * rule, complementing the corpus-level [[lineDedup]]): each distinct
    * line survives only at its FIRST position inside its own document;
    * cross-document repetition is untouched. Returns the filtered array,
    * order preserved.
    *
    * Pure higher-order projection — an `array_position` first-index
    * probe per element (O(lines²) per doc worst case, fine for the
    * ≤10³-line documents this targets) with ZERO shuffle and zero state:
    * embarrassingly parallel at any corpus size, where the corpus-level
    * rule pays a line-keyed aggregate. Callers must pass a
    * MATERIALIZED column (`withColumn` first), not an inline expression —
    * HOF lambdas re-evaluate closed-over expressions per element.
    */
  def intraDocLineDedup(lines: Column): Column =
    filter(lines, (l, i) =>
      array_position(lines, l) === (i + lit(1)).cast("long"))

  /** Deterministic HTML page around a document — the test/bench stand-in
    * for raw crawl records (WARC responses), built so [[htmlExtract]] has
    * every boilerplate class to strip: head/title, an inline stylesheet,
    * a nav bar, a script, an entity-bearing footer. Body text is entity-
    * escaped (`&` first, then `<`, `>` — a bijection [[htmlExtract]]
    * inverts), so adversarial text can never form a live tag. Pure
    * column concat: codegen'd, shuffle-free at any corpus size.
    */
  def htmlWrap(docId: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><head><title>doc "), docId,
      lit("</title><style>p{margin:0}</style></head><body>"),
      lit("<nav><a href=\"/\">home</a> | <a href=\"/s"), docId % 7,
      lit("\">section</a></nav><h1>doc "), docId,
      lit("</h1><p>"), esc,
      lit("</p><script>var t="), docId,
      lit(";</script><footer>&copy; corpus "), docId % 7,
      lit("</footer></body></html>"))
  }

  /** Main-content extraction from raw HTML — the pipeline stage between
    * crawl and curation (the trafilatura/jusText slot in RefinedWeb-style
    * pipelines), as a pure codegen projection:
    *
    *   1. container blocks that never hold body text are dropped whole
    *      (`head`, `script`, `style`, `nav`, `footer`) — spelled as an
    *      explicit alternation because the shared Java∩RE2 regex subset
    *      has no backreferences;
    *   2. every remaining tag becomes a space (block boundaries must not
    *      glue words);
    *   3. the five basic entities decode, `&amp;` LAST — the exact
    *      inverse of [[htmlWrap]]'s escape order, so escape∘extract
    *      round-trips arbitrary text;
    *   4. whitespace collapses and trims.
    *
    * No shuffle, full pushdown, and the chain is engine-replayable —
    * the oracle wraps AND extracts independently and checks the
    * round-trip equality itself. A real deployment swaps step 1-2 for a
    * DOM-aware extractor at the same projection boundary; everything
    * around it (schema, pushdown, no-shuffle shape) is unchanged.
    */
  def htmlExtract(html: Column): Column = {
    val blocks = regexp_replace(html,
      "(?is)<script\\b.*?</script>|<style\\b.*?</style>|" +
        "<head\\b.*?</head>|<nav\\b.*?</nav>|<footer\\b.*?</footer>",
      " ")
    val untagged = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val unescaped = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(
        untagged, "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&#39;", "'"), "&amp;", "&")
    // explicit class, not \s: Java's \s includes \x0B, RE2's does not —
    // the one place the two regex dialects would silently diverge here
    trim(regexp_replace(unescaped, "[ \\t\\n\\r\\f]+", " "))
  }

  private val Crlf = "\r\n"

  /** Deterministic WARC-style capture stream per source — the test/bench
    * stand-in for real crawl archive files. Each document becomes one
    * response record (version line, type/URI/date headers, a
    * Content-Length measured in BYTES of the [[htmlWrap]] page, blank
    * line, payload, record terminator), concatenated in doc_id order.
    *
    * TEST FIXTURE ONLY at the stream-assembly step: collecting a whole
    * source into one string is the inverse of what a crawler does. In
    * production the streams are the WARC FILES as rows (e.g. via the
    * binaryFile source or wholetext) and [[warcParse]] is the real
    * operator — parallelism is the file count, parsing is per-file
    * projection.
    */
  def warcSynthesize(docs: DataFrame): DataFrame = {
    val page = htmlWrap(col("doc_id"), col("text"))
    val rec = concat(
      lit("WARC/1.0" + Crlf + "WARC-Type: response" + Crlf +
        "WARC-Target-URI: http://corpus.local/"), col("doc_id"),
      lit(Crlf + "WARC-Date: 2026-01-01T00:00:00Z" + Crlf +
        "Content-Length: "), octet_length(page),
      lit(Crlf + Crlf), page, lit(Crlf + Crlf))
    docs.select(col("source"), col("doc_id"), rec.as("_r"))
      .groupBy("source")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("_r")))),
          x => x("_r")), "").as("stream"))
  }

  /** WARC record parsing: split a capture stream on the record sentinel,
    * extract the response headers, and verify each record's declared
    * Content-Length against the payload actually recovered — the
    * well-formedness check a production (length-delimited) reader gets
    * for free and a sentinel-split reader must assert. Pure projection
    * plus one explode; no shuffle, so a directory of WARC files parses
    * embarrassingly parallel at any corpus size.
    *
    * In: `(source, stream)`. Out: `source, rec_idx, uri, warc_date,
    * declared_len, length_ok, payload`.
    */
  def warcParse(streams: DataFrame): DataFrame =
    streams
      .select(col("source"),
        posexplode(split(col("stream"), "WARC/1\\.0\r\n")).as(Seq("pos", "rec")))
      .filter(col("pos") >= 1) // drop the empty pre-sentinel prefix
      .select(
        col("source"),
        (col("pos") - 1).as("rec_idx"),
        regexp_extract(col("rec"), "WARC-Target-URI: ([^\\r\\n]+)", 1)
          .as("uri"),
        regexp_extract(col("rec"), "WARC-Date: ([^\\r\\n]+)", 1)
          .as("warc_date"),
        regexp_extract(col("rec"), "Content-Length: ([0-9]+)", 1)
          .cast("long").as("declared_len"),
        regexp_extract(col("rec"), "(?s)\r\n\r\n(.*)\r\n\r\n$", 1)
          .as("payload"))
      .withColumn("length_ok",
        octet_length(col("payload")) === col("declared_len"))

  /** Lower-cased host of a URL (scheme required, port/path/query/fragment
    * stripped) — the join key for domain-level filtering. Java∩RE2. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))

  /** Domain-blocklist filter (the UT1-blocklist stage of RefinedWeb-style
    * crawl curation): a host is blocked when it equals a blocklist entry
    * OR is a subdomain of one (`ads.example.com` matches `example.com`).
    *
    * Shape: each host explodes into its dot-suffix chain (`a.b.c` →
    * `a.b.c`, `b.c`, `c` — ~3-4 rows per doc) and equi-joins the
    * blocklist on the suffix; the blocklist (UT1 is ~4M domains, tens of
    * MB) broadcasts. This is O(corpus·labels) with ONE hash join — never
    * a per-pattern LIKE/regex scan over N rules, which is O(corpus·N)
    * and unshippable at 100 TB. Of several matching rules the most
    * specific (longest) wins, via one struct-argmax; unmatched docs pass
    * through with `blocked = false` from the final left join.
    *
    * In: docs with `idCol` + `hostCol`; blocklist with `rule` (bare
    * lower-case domains). Out: id, host, blocked, matched_rule (''
    * when clean), n_matched.
    */
  def blocklistFilter(
      docs: DataFrame, blocklist: DataFrame,
      hostCol: String = "host", idCol: String = "doc_id"
  ): DataFrame = {
    val base = docs.select(col(idCol), col(hostCol).as("host"))
    val hits = base
      .withColumn("_labels", split(col("host"), "\\."))
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("_labels"))),
        i => array_join(slice(col("_labels"), i, size(col("_labels"))), ".")))
        .as("_sfx"))
      .join(broadcast(blocklist), col("_sfx") === col("rule"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"),
        max(struct(length(col("rule")).as("l"), col("rule").as("r")))
          .getField("r").as("matched_rule"))
    base.join(hits, Seq(idCol), "left")
      .withColumn("blocked", col("n_matched").isNotNull)
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("matched_rule", coalesce(col("matched_rule"), lit("")))
  }

  /** StarCoder/BigCode-style source-file quality flags (Li et al. 2023
    * "StarCoder: may the source be with you!", §3.1; the code-corpus
    * analogue of [[gopherRules]]): one boolean per rule plus the
    * conjunction `pass_code`:
    *   longest line ≤ 1000 chars; mean line length ≤ 100 chars;
    *   alphanumeric chars ≥ 25% of content; no ≥32-char hex blob and no
    *   ≥64-char base64 blob (minified/embedded-binary tell); no
    *   auto-generated banner ("auto-generated" / "do not edit" /
    *   "generated by", case-insensitive).
    * Every ratio is cross-multiplied into BIGINT comparisons
    * (`n_alnum*4 >= n_content_chars`) — no division, no doubles, so any
    * engine replays the flags bit-for-bit. Pure codegen projection over
    * `textCol` (newline-delimited file content), no shuffle; the line
    * array is materialized as a column BEFORE the aggregate lambdas (the
    * measured HOF re-evaluation trap). Patterns stay in the Java∩RE2
    * subset: character classes + bounded repetition + (?i), no
    * lookaround.
    *
    * `n_content_chars` counts line bytes only (newlines excluded), so
    * the alnum ratio is separator-free; `max_line_len` on an empty file
    * is 0 via the aggregate's BIGINT seed.
    */
  def codeRules(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("_lines", split(col(textCol), "\n"))
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("max_line_len",
        aggregate(col("_lines"), lit(0L),
          (acc, l) => greatest(acc, length(l).cast("long"))))
      .withColumn("n_content_chars",
        aggregate(col("_lines"), lit(0L),
          (acc, l) => acc + length(l).cast("long")))
      .withColumn("n_alnum",
        size(regexp_extract_all(col(textCol), lit("[A-Za-z0-9]"), lit(0)))
          .cast("long"))
      .withColumn("n_hex_blobs",
        size(regexp_extract_all(col(textCol), lit("[0-9a-fA-F]{32,}"), lit(0)))
          .cast("long"))
      .withColumn("n_b64_blobs",
        size(regexp_extract_all(col(textCol),
          lit("[A-Za-z0-9+/=]{64,}"), lit(0))).cast("long"))
      .withColumn("autogen",
        col(textCol).rlike("(?i)auto-generated|do not edit|generated by"))
      .withColumn("pass_max_line", col("max_line_len") <= 1000L)
      .withColumn("pass_avg_line",
        col("n_content_chars") <= col("n_lines") * 100L)
      .withColumn("pass_alnum",
        col("n_alnum") * 4L >= col("n_content_chars"))
      .withColumn("pass_blobs",
        col("n_hex_blobs") === 0L && col("n_b64_blobs") === 0L)
      .withColumn("pass_autogen", !col("autogen"))
      .withColumn("pass_code",
        col("pass_max_line") && col("pass_avg_line") && col("pass_alnum") &&
          col("pass_blobs") && col("pass_autogen"))
      .drop("_lines")

  /** Gopher REPETITION filters (Rae et al. 2021, Table A1 — the
    * within-document repetition subset [[gopherRules]]' quality subset
    * doesn't cover): SEO keyword stuffing, templated spam, and decode
    * loops all manifest as one document repeating itself, which no
    * cross-document dedup sees. Three signal families, all exact
    * integer bp:
    *
    *   - duplicate LINES: `dup_line_frac_bp` = lines beyond a first
    *     occurrence / lines, and `dup_line_char_frac_bp` = their
    *     characters / line characters — pure array projections
    *     (array_distinct), no shuffle. Blank lines dropped; paragraph
    *     variants collapse to these on single-block corpora.
    *   - TOP n-gram mass (n = 2..4): `top_{n}gram_char_frac_bp` =
    *     cnt·chars(gram) · 10⁴ div chars(text) for the most frequent
    *     word n-gram (ties → lexicographically smallest — `min` over
    *     the injective struct(-cnt, gram)); gram chars include internal
    *     spaces, the denominator is the raw text length.
    *   - DUPLICATED n-gram coverage (n = 5..10):
    *     `dup_{n}gram_frac_bp` = tokens covered by ≥2-occurrence
    *     n-grams / tokens — the TOKEN-position form of the paper's
    *     character fraction (same signal, integer-exact; thresholds
    *     carry over unchanged). Coverage is the exact interval union
    *     of the occurrences' [pos, pos+n): with starts sorted,
    *     Σ least(n, next−pos) (+ tail cap) — a per-(doc,n) window.
    *
    * `pass_repetition` ANDs the paper's thresholds: line 30%/20%, top
    * 2/3/4-gram 20/18/16%, dup 5..10-gram 15..10%.
    *
    * Distributed shape: one token-array materialization, one 9-way
    * gram explode (n = 2..10 — the volume the filter inherently reads);
    * the 2..4 stream takes a (doc, n, gram) map-side-combinable count,
    * the 5..10 stream a (doc, n, gram) window count (one exchange for
    * the corpus-gram-sized stream, no join); everything after is
    * doc-keyed, so work scales with corpus gram volume and NOTHING is
    * all-pairs or corpus-global. The
    * count/argmax route (not per-row HOF scans) keeps per-doc cost
    * linear in doc length where a transform-over-filter count is
    * quadratic — the Gopher 100k-word doc bound matters.
    *
    * In: (idCol, textCol). Out: one row per input doc (zero-gram docs
    * keep zeros), columns doc_id, n_words, n_lines, the 11 fracs,
    * pass_repetition.
    */
  def repetitionRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val base = graft.util.AutoUnpersist.persistScoped(
      docs.select(col(idCol).as("_id"),
        filter(split(col(textCol), "\\s+"), t => t =!= "").as("_t"),
        filter(split(col(textCol), "\n"), l => l.rlike("\\S")).as("_ln"),
        length(col(textCol)).cast("long").as("_chars")))
    // line family: pure array projections
    val lines = base.select(col("_id"),
      size(col("_t")).cast("long").as("n_words"),
      size(col("_ln")).cast("long").as("n_lines"),
      size(array_distinct(col("_ln"))).cast("long").as("_dln"),
      aggregate(col("_ln"), lit(0L), (a, l) => a + length(l)).as("_lc"),
      aggregate(array_distinct(col("_ln")), lit(0L),
        (a, l) => a + length(l)).as("_dlc"),
      col("_chars"))
      .withColumn("dup_line_frac_bp",
        expr("if(n_lines > 0, (n_lines - _dln) * 10000 div n_lines, 0L)"))
      .withColumn("dup_line_char_frac_bp",
        expr("if(_lc > 0, (_lc - _dlc) * 10000 div _lc, 0L)"))
      .drop("_dln", "_lc", "_dlc")
    // one positional gram explode for all n, counted once
    def gramsOf(n: Int): Column =
      when(size(col("_t")) >= n,
        transform(sequence(lit(1), size(col("_t")) - (n - 1)),
          i => struct((i - 1).cast("long").as("pos"),
            array_join(slice(col("_t"), i, lit(n)), " ").as("g"))))
        .otherwise(array().cast("array<struct<pos:long,g:string>>"))
    // NOT persisted: the gram frames are corpus-gram-sized (caching
    // them spills and went superlinear on a 40× disjoint-copy corpus);
    // the explodes recompute from the cached base (cheap codegen).
    def occOf(ns: Range) =
      ns.map(n => base.select(col("_id"), lit(n).as("_n"),
          explode(gramsOf(n)).as("_o"))
        .select(col("_id"), col("_n"), col("_o.pos").as("_pos"),
          col("_o.g").as("_g"))).reduce(_ unionAll _)
    // top-gram mass, n = 2..4: deterministic argmax via injective min.
    // The count aggregate reads ONLY the 2..4-gram stream — the 5..10
    // coverage family stopped needing per-gram counts when its
    // occurrence×count join became a window count (below), so 6 of the
    // 9 gram families (the LONG grams, the bulk of the bytes) no
    // longer pass through this shuffle at all (r9; guide §2.2).
    val cnt = occOf(2 to 4)
      .groupBy("_id", "_n", "_g").agg(count(lit(1)).as("_c"))
    val top = cnt
      .groupBy("_id", "_n")
      .agg(min(struct((-col("_c")).as("nc"), col("_g").as("g"))).as("_b"))
      .select(col("_id"), col("_n"),
        ((-col("_b.nc")) * length(col("_b.g"))).as("_tm"))
      .groupBy("_id").pivot("_n", Seq(2, 3, 4)).agg(first(col("_tm")))
      .select(col("_id"), col("2").as("_tm2"), col("3").as("_tm3"),
        col("4").as("_tm4"))
    // duplicated-gram token coverage, n = 5..10: exact interval union.
    // Occurrence counts come from a window count over the SAME
    // (doc, n, gram) partitioning the old groupBy+equi-join pair used —
    // identical _c per occurrence row, but the corpus-gram-sized stream
    // now crosses ONE exchange (the window sort) instead of two (the
    // count aggregate, whose partial agg barely combines since most
    // grams are unique, plus the join probe), and the join operator
    // disappears; only the ≥2-occurrence survivors (a corruption-rate
    // sliver) reach the second, interval-union window (r9; guide §2.2).
    val wCnt = Window.partitionBy("_id", "_n", "_g")
    val wNext = Window.partitionBy("_id", "_n").orderBy("_pos")
    val cov = occOf(5 to 10)
      .withColumn("_c", count(lit(1)).over(wCnt))
      .filter(col("_c") >= 2)
      .withColumn("_nx", lead("_pos", 1).over(wNext))
      .groupBy("_id", "_n")
      .agg(sum(when(col("_nx").isNotNull,
        least(col("_n").cast("long"), col("_nx") - col("_pos")))
        .otherwise(col("_n").cast("long"))).as("_cov"))
      .groupBy("_id").pivot("_n", Seq(5, 6, 7, 8, 9, 10))
      .agg(first(col("_cov")))
      .select(col("_id") +: (5 to 10).map(n =>
        col(n.toString).as(s"_cov$n")): _*)
    val joined = lines.join(top, Seq("_id"), "left")
      .join(cov, Seq("_id"), "left")
      .withColumn("top_2gram_char_frac_bp",
        expr("if(_chars > 0, coalesce(_tm2, 0L) * 10000 div _chars, 0L)"))
      .withColumn("top_3gram_char_frac_bp",
        expr("if(_chars > 0, coalesce(_tm3, 0L) * 10000 div _chars, 0L)"))
      .withColumn("top_4gram_char_frac_bp",
        expr("if(_chars > 0, coalesce(_tm4, 0L) * 10000 div _chars, 0L)"))
    val withCov = (5 to 10).foldLeft(joined) { (df, n) =>
      df.withColumn(s"dup_${n}gram_frac_bp",
        expr(s"if(n_words > 0, coalesce(_cov$n, 0L) * 10000 div n_words, 0L)"))
    }
    val thresholds = Seq(
      "dup_line_frac_bp" -> 3000L, "dup_line_char_frac_bp" -> 2000L,
      "top_2gram_char_frac_bp" -> 2000L, "top_3gram_char_frac_bp" -> 1800L,
      "top_4gram_char_frac_bp" -> 1600L,
      "dup_5gram_frac_bp" -> 1500L, "dup_6gram_frac_bp" -> 1400L,
      "dup_7gram_frac_bp" -> 1300L, "dup_8gram_frac_bp" -> 1200L,
      "dup_9gram_frac_bp" -> 1100L, "dup_10gram_frac_bp" -> 1000L)
    withCov
      .withColumn("pass_repetition",
        thresholds.map { case (c, t) => col(c) <= t }.reduce(_ && _))
      .select(Seq(col("_id").as(idCol), col("n_words"), col("n_lines")) ++
        thresholds.map { case (c, _) => col(c) } :+
        col("pass_repetition"): _*)
  }
}
