package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd `functions._` expressions (split,
  * regexp_count, higher-order array functions) — no UDFs, so whole-stage
  * codegen spans the full pipeline and the expressions constant-fold /
  * push down like any other Catalyst expression. All functions are
  * `Column => Column` (or DataFrame transformers) and therefore compose
  * with any source at any scale: per-row work, no shuffles.
  */
object TextAnalysis {

  /** Whitespace tokens with empties removed ("" → 0 tokens). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: word chunks plus individual punctuation
    * marks (each CJK ideograph is punct-class under ASCII \w, so zh text
    * counts per-character — the right granularity for BPE estimates). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("\\w+|[^\\w\\s]"))

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^\\w\\s]")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def meanWordLength(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Fraction of lowercase \W+-tokens found in `stopwords` — one
    * tokenization pass via the native hit-counter kernel (hits and the
    * token total come back together; see
    * [[graft.functions.StopwordHits]]). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val arr = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.StopwordHits(
        org.apache.spark.sql.GraftSqlBridge.expression(text),
        Seq(stopwords)))
    arr.getItem(0).cast("double") /
      greatest(arr.getItem(1), lit(1)).cast("double")
  }

  /** Heuristic quality score in [0,1]: length band + punctuation sanity +
    * stopword presence + word-length sanity (the usual C4/Gopher-style
    * cheap filters, combined additively). */
  def qualityScore(text: Column): Column = {
    val len = length(text)
    val lengthScore = when(len.between(200, 20000), 0.25)
      .when(len.between(50, 50000), 0.15).otherwise(0.0)
    val punct = punctRatio(text)
    val punctScore = when(punct.between(0.005, 0.12), 0.25)
      .when(punct <= 0.25, 0.1).otherwise(0.0)
    val sw = stopwordRatio(text, LangId.profiles.flatMap(_._2))
    val swScore = when(sw >= 0.08, 0.25).when(sw >= 0.02, 0.1).otherwise(0.0)
    val mwl = meanWordLength(text)
    val wordScore = when(mwl.between(2.5, 12.0), 0.25)
      .when(mwl.between(1.5, 20.0), 0.1).otherwise(0.0)
    lengthScore + punctScore + swScore + wordScore
  }

  /** [[qualityScore]] rendered as DuckDB SQL over a text column reference —
    * the same when-chains over the same ratios, every literal cast to
    * DOUBLE and every division done double/double so the arithmetic is
    * bit-identical to the Spark expression. */
  def qualityOracleSqlExpr(t: String): String = {
    val sw = LangId.profiles.flatMap(_._2).map(w => s"'$w'").mkString("[", ",", "]")
    def d(v: String) = s"CAST($v AS DOUBLE)"
    val L = s"len($t)"
    val ls = s"(CASE WHEN $L BETWEEN 200 AND 20000 THEN ${d("0.25")} " +
      s"WHEN $L BETWEEN 50 AND 50000 THEN ${d("0.15")} ELSE ${d("0.0")} END)"
    val punct = s"(${d(s"len(regexp_extract_all($t, '[^\\w\\s]'))")} / ${d(s"greatest($L, 1)")})"
    val ps = s"(CASE WHEN $punct BETWEEN 0.005 AND 0.12 THEN ${d("0.25")} " +
      s"WHEN $punct <= 0.25 THEN ${d("0.1")} ELSE ${d("0.0")} END)"
    val wt = s"list_filter(string_split_regex(lower($t), '\\W+'), w -> len(w) > 0)"
    val swr = s"(${d(s"len(list_filter($wt, w -> list_contains($sw, w)))")} / ${d(s"greatest(len($wt), 1)")})"
    val ss = s"(CASE WHEN $swr >= 0.08 THEN ${d("0.25")} " +
      s"WHEN $swr >= 0.02 THEN ${d("0.1")} ELSE ${d("0.0")} END)"
    val toks = s"list_filter(string_split_regex(trim($t), '\\s+'), w -> len(w) > 0)"
    val mwl = s"(${d(s"COALESCE(list_sum(list_transform($toks, w -> len(w))), 0)")} / ${d(s"greatest(len($toks), 1)")})"
    val ws = s"(CASE WHEN $mwl BETWEEN 2.5 AND 12.0 THEN ${d("0.25")} " +
      s"WHEN $mwl BETWEEN 1.5 AND 20.0 THEN ${d("0.1")} ELSE ${d("0.0")} END)"
    s"((($ls + $ps) + $ss) + $ws)"
  }

  /** Text normalization for training corpora: strip control characters,
    * collapse runs of whitespace, trim. Pure regexp expressions —
    * per-row, codegen'd, mirror-able in the oracle. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))

  /** PII scrub for training corpora: emails, URLs and long digit runs
    * replaced with stable placeholder tokens. Pure regexp_replace chain —
    * per-row, codegen'd, and mirrored verbatim in the oracle (same
    * patterns, DuckDB needs the 'g' flag for replace-all). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongDigitsRe = "[0-9]{7,}"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "[URL]"),
        EmailRe, "[EMAIL]"),
      LongDigitsRe, "[NUM]")

  def scrubPiiOracleSqlExpr(t: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($t, " +
      s"'$UrlRe', '[URL]', 'g'), '$EmailRe', '[EMAIL]', 'g'), " +
      s"'$LongDigitsRe', '[NUM]', 'g')"

  /** PII DETECTION report — the audit/measurement twin of [[scrubPii]]
    * (which rewrites): per-document counts of four typed signals, each a
    * RE2-compatible pattern (no lookaround) shared verbatim with the
    * oracle so both engines run the identical regex program.
    *
    *  - emails ([[EmailRe]]);
    *  - VALID dotted-quad IPv4s — each octet range-checked 0–255 by the
    *    alternation, `\b` fencing so "999.1.2.3" can't shed a digit and
    *    match (both Java regex and RE2 implement ASCII `\b`);
    *  - phone-shaped numbers: E.164 (`+` then 7–15 digits) or US-style
    *    ddd[-. ]ddd[-. ]dddd;
    *  - payment-card numbers: MAXIMAL digit runs (never a prefix carved
    *    out of a longer run — RE2 has no lookaround, so runs are
    *    extracted whole and length-gated 13–19 afterwards) that pass the
    *    Luhn check ([[graft.functions.LuhnCheck]], a codegen'd kernel;
    *    the oracle replays it as a list comprehension). Luhn is the
    *    precision gate: 9 of 10 random digit runs fail it.
    *
    * Signals are counted independently (a `+`-prefixed 13-digit phone
    * is also a card CANDIDATE — only Luhn decides). Map-only codegen'd
    * scan, zero shuffle; compose the booleans with [[gopherRules]]-style
    * gates or aggregate per domain for a corpus-level PII exposure
    * report. */
  val Ipv4OctetRe = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val Ipv4Re =
    s"\\b$Ipv4OctetRe\\.$Ipv4OctetRe\\.$Ipv4OctetRe\\.$Ipv4OctetRe\\b"
  val PhoneRe = "\\+[0-9]{7,15}\\b|\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val DigitRunRe = "[0-9]+"

  def piiReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // NULL text -> NULL counts ("unknown", the DuckDB semantics), made
    // explicit because Spark's legacy size(NULL) would yield -1 here
    def n(c: Column) = when(t.isNotNull, size(c))
    docs.select(col(idCol),
      n(regexp_extract_all(t, lit(EmailRe), lit(0))).as("n_email"),
      n(regexp_extract_all(t, lit(Ipv4Re), lit(0))).as("n_ipv4"),
      n(regexp_extract_all(t, lit(PhoneRe), lit(0))).as("n_phone"),
      n(filter(regexp_extract_all(t, lit(DigitRunRe), lit(0)),
        c => length(c).between(13, 19) &&
          graft.functions.LuhnCheck.luhn(c))).as("n_card"))
  }

  /** The Luhn check as DuckDB SQL over a digit-string expression `c`:
    * sum over 1-based char positions i, doubling where the position
    * from the RIGHT is even ((len-i) odd), folding >9 as d*2-9 —
    * exactly [[graft.functions.LuhnCheck.compute]] for an all-digit
    * input (the oracle only feeds it `[0-9]+` matches, so the kernel's
    * non-digit→false branch never fires there). */
  def luhnOracleSqlExpr(c: String): String =
    s"(list_sum(list_transform(range(1, length($c) + 1), i -> " +
      s"CASE WHEN (length($c) - i) % 2 = 1 THEN " +
      s"CASE WHEN 2 * CAST($c[i] AS INT) > 9 THEN 2 * CAST($c[i] AS INT) - 9 " +
      s"ELSE 2 * CAST($c[i] AS INT) END " +
      s"ELSE CAST($c[i] AS INT) END)) % 10 = 0)"

  /** Full [[piiReport]] mirror for a text expression `t` — four count
    * expressions in output order, patterns inlined verbatim. */
  def piiOracleSqlExprs(t: String): Seq[String] = Seq(
    s"length(regexp_extract_all($t, '$EmailRe'))",
    s"length(regexp_extract_all($t, '$Ipv4Re'))",
    s"length(regexp_extract_all($t, '$PhoneRe'))",
    s"length(list_filter(regexp_extract_all($t, '$DigitRunRe'), c -> " +
      s"length(c) BETWEEN 13 AND 19 AND ${luhnOracleSqlExpr("c")}))")

  /** Markup-strip patterns, shared verbatim with the DuckDB oracle —
    * RE2-compatible by construction (no backreferences: script and style
    * containers get separate patterns), so both engines run the
    * identical regex program. */
  private val ScriptRe = "(?is)<script\\b[^>]*>.*?</script>"
  private val StyleRe = "(?is)<style\\b[^>]*>.*?</style>"
  private val CommentRe = "(?s)<!--.*?-->"
  private val TagRe = "<[^>]+>"
  /** Entity decode pairs, &amp; LAST so `&amp;lt;` decodes to the
    * literal `&lt;` (one level), not `<`. */
  private val Entities = Seq("&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Strip HTML/XML markup down to text (the web-corpus extraction
    * step): script/style/comment containers removed whole, remaining
    * tags dropped, the six ubiquitous entities decoded (amp last),
    * whitespace collapsed. Pure codegen'd per-row expressions — zero
    * shuffle at any corpus size. Not a parser: pathological markup
    * (unclosed script, tags inside attribute strings) degrades to
    * leaving fragments, never to dropped text. */
  def stripMarkup(text: Column): Column = {
    val noContainers = regexp_replace(
      regexp_replace(
        regexp_replace(text, ScriptRe, " "), StyleRe, " "), CommentRe, " ")
    val noTags = regexp_replace(noContainers, TagRe, " ")
    val decoded = Entities.foldLeft(noTags) { case (c, (k, v)) =>
      org.apache.spark.sql.functions.replace(c, lit(k), lit(v))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** [[stripMarkup]] as DuckDB SQL over a text reference — same regex
    * programs (global flag), same literal entity replaces, same order. */
  def stripMarkupOracleSqlExpr(t: String): String = {
    val noContainers = s"regexp_replace(regexp_replace(regexp_replace($t, " +
      s"'$ScriptRe', ' ', 'g'), '$StyleRe', ' ', 'g'), '$CommentRe', ' ', 'g')"
    val noTags = s"regexp_replace($noContainers, '$TagRe', ' ', 'g')"
    val decoded = Entities.foldLeft(noTags) { case (c, (k, v)) =>
      val vq = v.replace("'", "''")
      s"replace($c, '$k', '$vq')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Whitespace-normalized lowercase text — native kernel, byte-identical
    * to `regexp_replace(lower(trim(text)), '\s+', ' ')` (see
    * [[graft.functions.NormalizeWs]]). */
  def normalizeWs(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NormalizeWs(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Stable document fingerprint: md5 of whitespace-normalized lowercase
    * text. md5 so external engines (the DuckDB oracle) can reproduce it;
    * use [[xxFingerprint]] in shuffles where a cheap 64-bit key wins. */
  def fingerprint(text: Column): Column = md5(normalizeWs(text))

  /** 64-bit fingerprint for join/shuffle keys (xxHash64, codegen'd). */
  def xxFingerprint(text: Column): Column = xxhash64(normalizeWs(text))

  /** Gopher-style repetition statistics per document over word n-grams:
    * total/distinct n-gram counts, the fraction of n-gram occurrences
    * that are repeats (1 - distinct/total), and the share of occurrences
    * taken by the single most frequent n-gram. High dup_frac / top_frac
    * → boilerplate or degenerate repetition → filter before training.
    *
    * Shape: explode the multiplicity-preserving shingle stream, count per
    * (doc, gram-hash), re-aggregate per doc — two hash aggregations with
    * map-side partials, no joins, no windows. Grams shuffle as xxhash64
    * longs, not strings (`hashGrams`): the statistics are pure counts, so
    * they are unchanged unless two grams of ONE doc collide at 64 bits
    * (P ≈ g²/2^65 per doc — vanishing), and the shuffle payload drops
    * from n-word strings to 8 bytes. */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 2,
                      hashGrams: Boolean = true): org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.shinglesAll(col(textCol), n)).as("__g0"))
      .select(col("doc_id"),
        (if (hashGrams) xxhash64(col("__g0")) else col("__g0")).as("__g"))
    grams.groupBy(col("doc_id"), col("__g"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        (lit(1.0) - count(lit(1)) / sum(col("__cnt"))).as("dup_frac"),
        (max(col("__cnt")) / sum(col("__cnt"))).as("top_frac"))
  }

  /** n-gram language ID heuristic: CJK character share decides zh;
    * otherwise argmax of per-language stopword hits with a fixed
    * preference order (en > de > fr > es) on ties. Deterministic and
    * SQL-mirrorable (LangId.oracleSqlExpr). */
  def langId(text: Column): Column = LangId.expr(text)

  /** Vocabulary drift between two corpus snapshots — the monitoring twin
    * of [[graft.operators.Dedup.corpusDiff]]: for every word in either
    * snapshot, a chi-square-style divergence contribution
    * (p_new − p_old)² / (p_new + p_old) over relative frequencies,
    * largest movers first — the words whose usage shifted most between
    * crawls (new template spam, a topic surge, a scraper regression).
    *
    * Deliberately LOG-FREE: pure rational arithmetic over exact integer
    * counts means every value is a fixed tree of correctly-rounded IEEE
    * ops — bit-identical across engines and partitionings without the
    * nano-quantization the unigram-LM scorer needs for its ln() sums.
    * Two word-count aggregates + one full-outer join on the word (both
    * sides are (word, count) — vocabulary-sized, tiny vs the corpus) +
    * a broadcast totals row; top-k plans as TakeOrderedAndProject
    * (per-partition heaps, no global sort materialization). The totals
    * aggregate re-derives the join (one extra vocabulary-sized pass —
    * the cheap trade for zero caches, same posture as line dedup). */
  def vocabularyDrift(oldDocs: org.apache.spark.sql.DataFrame,
                      newDocs: org.apache.spark.sql.DataFrame,
                      textCol: String,
                      topK: Int = 100): org.apache.spark.sql.DataFrame = {
    require(topK > 0, "topK must be positive")
    def counts(df: org.apache.spark.sql.DataFrame, as: String) = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as(as))
    val joined = counts(oldDocs, "__co")
      .join(counts(newDocs, "__cn"), Seq("word"), "full_outer")
      .select(col("word"), coalesce(col("__co"), lit(0L)).as("c_old"),
        coalesce(col("__cn"), lit(0L)).as("c_new"))
    val totals = joined.agg(sum("c_old").as("__to"), sum("c_new").as("__tn"))
    val po = col("c_old").cast("double") / col("__to").cast("double")
    val pn = col("c_new").cast("double") / col("__tn").cast("double")
    joined.crossJoin(broadcast(totals))
      .select(col("word"), col("c_old"), col("c_new"),
        round((pn - po) * (pn - po) / (pn + po), 12).as("drift"))
      .orderBy(desc("drift"), col("word"))
      .limit(topK)
  }

  /** Heavy hitters over any string item column via the bounded-memory
    * Misra–Gries aggregate ([[graft.functions.FrequentItems]]):
    * (rank, token, cnt), count desc then token asc. Unlike the
    * `GROUP BY item ORDER BY count DESC LIMIT k` shape — whose exchange
    * carries the whole keyspace — this shuffles ONE ≤ capacity-entry
    * sketch per map partition: memory and network are O(capacity)
    * regardless of corpus size or key cardinality. Exact (≡ the GROUP BY)
    * whenever capacity ≥ distinct items; otherwise counts are lower
    * bounds short by ≤ N/(capacity+1) and anything more frequent than
    * that is guaranteed present. */
  def heavyHitters(items: DataFrame, itemCol: Column,
                   capacity: Int, k: Int): DataFrame =
    items.select(graft.functions.FrequentItems(itemCol, capacity, k).as("__hh"))
      .select(posexplode(col("__hh")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.item").as("token"), col("col.cnt").as("cnt"))

  /** [[heavyHitters]] over lowercase whitespace tokens of a text column —
    * the "what are the top spam tokens in this crawl" probe. */
  def heavyHitterTokens(docs: DataFrame, textCol: String,
                        capacity: Int, k: Int): DataFrame =
    heavyHitters(
      docs.select(explode(tokens(lower(col(textCol)))).as("__tok")),
      col("__tok"), capacity, k)

  /** Per-document token Shannon entropy — the gibberish/boilerplate
    * signal the ratio heuristics miss: keyboard mash and repeated-phrase
    * spam both sit at entropy extremes while passing length/punctuation
    * checks. H(d) = −Σ_t (c_t/n)·ln(c_t/n) over the document's token
    * histogram. One groupBy (doc, token) for the histogram, one groupBy
    * (doc) for totals + the sum — per-term contributions quantize to
    * integer nano-units first (the unigram-LM trick) so the per-doc sum
    * is association-order-exact across partitionings and engines.
    * Zero-token docs drop out. Output: (idCol, n_tokens, entropy). */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
    val totals = tf.groupBy(col(idCol)).agg(sum("__c").as("__n"))
    val p = col("__c").cast("double") / col("__n").cast("double")
    tf.join(totals, idCol)
      .select(col(idCol), col("__n"),
        floor(-(p * log(p)) * 1e9).cast("long").as("__q"))
      .groupBy(col(idCol))
      .agg(first(col("__n")).as("n_tokens"), sum("__q").as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / 1e9).as("entropy"))
  }

  /** BM25 relevance of documents to queries (Lucene's positive idf
    * variant): score(d,q) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·len/avglen)), idf = ln((N − df + ½)/(df + ½) + 1).
    *
    * Postings-join shape: query terms join the (doc, term, tf) relation
    * on the TERM, so only documents sharing a term with a query are ever
    * scored — no doc × query cross product (the sparse-retrieval
    * counterpart of [[Similarity.hybridTopK]]'s dense side; at corpus
    * scale the per-term posting lists are what bound the work, like the
    * [[graft.operators.Dedup]] posting-list Jaccard). Corpus statistics
    * (N, total length) reduce to one broadcast row of exact integers —
    * avglen derives as total/N rather than a distributed double `avg`,
    * which would be summation-order-dependent. Per-term scores quantize
    * to integer nano-units BEFORE the per-(query, doc) sum (the
    * unigram-LM trick) so the aggregate is association-order-exact and
    * reproducible across engines/partitionings; the final top-k per
    * query goes through the bounded partial aggregate
    * ([[graft.functions.TopKByScore]] — quantized longs below 2^53 are
    * exact doubles, so ordering is exact). Output: (query_id, rank,
    * doc_id, bm25). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, qidCol: String, qtextCol: String,
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 10,
           excludeSelf: Boolean = true): DataFrame = {
    // the tokenize explode fuses into the scan — spread a narrow/
    // unsplittable input first (identity at scale; [[Spread]])
    val toks = Spread.ifSmall(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__did"),
      explode(tokens(col(textCol))).as("__t"))
    val docLen = toks.groupBy("__did").agg(count(lit(1)).as("__len"))
    val tf = toks.groupBy("__did", "__t").agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val stats = docLen.agg(count(lit(1)).as("__n"), sum("__len").as("__tot"))
    val qt = queries.select(col(qidCol).as("__qid"),
      explode(array_distinct(tokens(col(qtextCol)))).as("__t"))
    val idf = log((col("__n").cast("double") - col("__df").cast("double") + 0.5) /
      (col("__df").cast("double") + 0.5) + 1.0)
    val avglen = col("__tot").cast("double") / col("__n").cast("double")
    val tfd = col("__tf").cast("double")
    val tfn = tfd * (k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("__len").cast("double") / avglen))
    val perTerm = qt.join(tf.join(dfreq, "__t"), "__t")
      .join(docLen, "__did")
      .crossJoin(broadcast(stats))
      .where(if (excludeSelf) col("__did") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__did"),
        floor(idf * tfn * 1e9).cast("long").as("__q"))
    val summed = perTerm.groupBy("__qid", "__did")
      .agg(sum("__q").as("__s"))
    summed.groupBy("__qid")
      .agg(graft.functions.TopKByScore(
        col("__s").cast("double"), col("__did").cast("long"), topK).as("__top"))
      .select(col("__qid"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("__qid").as("query_id"), (col("__pos") + 1).as("rank"),
        col("__e.id").as("doc_id"), (col("__e.score") / 1e9).as("bm25"))
  }

  /** Build and PERSIST a BM25 postings index — the sparse-retrieval
    * twin of [[graft.operators.Dedup.buildNearDupIndex]] /
    * [[Similarity.buildIvfIndex]]: the corpus tokenizes and aggregates
    * ONCE at ingest, and every later query batch scores against the
    * stored postings without re-reading a byte of corpus text. Layout:
    *   - `{table}`        — postings (__t, __did, __tf, __len),
    *     BUCKETED by term. Per-doc facts only — nothing corpus-global
    *     lives on a posting row, which is what makes the index
    *     APPENDABLE (a denormalized df would go stale for every old
    *     row whenever new documents arrive);
    *   - `{table}_df`     — (__t, __df) document frequencies, one row
    *     per vocabulary term (model-sized; merged, not rebuilt, on
    *     append);
    *   - `{table}_stats`  — one row (__n, __tot) of exact integers
    *     (avglen derives as tot/n at probe time — never a distributed
    *     double avg).
    * At 100 TB the postings relation is what bounds the index (Σ
    * per-doc distinct terms), bucketing pays the term-key shuffle once,
    * and an incremental crawl pays O(batch) postings + a vocab-sized
    * df merge per append ([[appendToBm25Index]]).
    *
    * The corpus text is scanned and tokenized exactly ONCE — the
    * postings job folds doc length into the tf aggregate as a window
    * (`sum(__tf) OVER (PARTITION BY __did)` ≡ the raw token count; the
    * window input is the already-reduced tf relation, never the token
    * stream, and a partition is one doc's distinct terms — bounded) —
    * and the df/stats tables aggregate the ALREADY-WRITTEN postings:
    * per-term df is bucket-local (zero exchange), and (n, tot) is one
    * `(count_distinct(__did), sum(__tf))` pass over the compact index,
    * not a re-read of 100 TB of text. */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     table: String, buckets: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = docs.sparkSession
    Seq(table, s"${table}_df", s"${table}_stats")
      .foreach(Bucketing.dropForRewrite(spark, _))
    // the tokenize explode fuses into the scan — spread a narrow/
    // unsplittable input first (identity at scale; [[Spread]])
    val toks = Spread.ifSmall(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__did"),
      explode(tokens(col(textCol))).as("__t"))
    val tf = toks.groupBy("__did", "__t").agg(count(lit(1)).as("__tf"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("__did")
    val postings = tf.select(col("__t"), col("__did"), col("__tf"),
      sum("__tf").over(byDoc).as("__len"))
    Bucketing.writeBucketed(postings, table, "__t", buckets)
    val stored = spark.table(table)
    stored.groupBy("__t").agg(count(lit(1)).as("__df"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_df")
    stored.agg(count_distinct(col("__did")).as("__n"),
        coalesce(sum("__tf"), lit(0L)).as("__tot"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_stats")
    spark.table(table)
  }

  /** Grow a [[buildBm25Index]] index with a NEW document batch — the
    * incremental-crawl write, O(batch) + O(vocab), never O(corpus):
    * batch postings append into the term buckets
    * ([[Bucketing.appendBucketed]] — files land in the right hash
    * buckets, co-partitioning intact), document frequencies MERGE
    * (full-outer sum of the vocab-sized df table with the batch's df —
    * exact integer addition, identical to a from-scratch rebuild
    * because df is additive over disjoint doc sets), and the stats row
    * adds the batch's (n, tot). Caller contract: batch doc ids are new
    * (an upsert would need the old rows' terms to decrement). */
  def appendToBm25Index(docs: DataFrame, idCol: String, textCol: String,
                        table: String,
                        scratchDir: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    // the merge materializes through scratch (shared Scratch lifecycle —
    // same non-local-master guard: a driver-local default would shear
    // the merged df/stats across executor disks on a real cluster)
    val scratch = new Scratch(spark, "appendToBm25Index",
      "graft-bm25-merge", scratchDir)
    // the tokenize explode fuses into the scan — spread a narrow/
    // unsplittable input first (identity at scale; [[Spread]])
    val toks = Spread.ifSmall(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__did"),
      explode(tokens(col(textCol))).as("__t"))
    val tf = toks.groupBy("__did", "__t").agg(count(lit(1)).as("__tf"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("__did")
    // ONE tokenize pass over the batch (build-path treatment — see
    // buildBm25Index): batch postings land in scratch parquet first,
    // and the bucketed append, the df merge, and the stats add all
    // read the compact postings instead of re-tokenizing the text
    val bp = scratch.materialize(
      tf.select(col("__t"), col("__did"), col("__tf"),
        sum("__tf").over(byDoc).as("__len")), "batch_postings")
    Bucketing.appendBucketed(
      bp.select(col("__t"), col("__did"), col("__tf"), col("__len")),
      table, "__t")
    val batchDf = bp.groupBy("__t").agg(count(lit(1)).as("__bdf"))
    // the merge rewrites tables it also READS — break the self-read
    // cycle by materializing through scratch parquet (the
    // duplicateClusters lifecycle), DISTRIBUTED: a 100 TB corpus's
    // vocabulary does not fit a driver collect
    val mergedDf = spark.table(s"${table}_df")
      .join(batchDf, Seq("__t"), "full_outer")
      .select(col("__t"),
        (coalesce(col("__df"), lit(0L)) + coalesce(col("__bdf"), lit(0L)))
          .as("__df"))
    val batchStats = bp.agg(count_distinct(col("__did")).as("__bn"),
      coalesce(sum("__tf"), lit(0L)).as("__btot"))
    val mergedStats = spark.table(s"${table}_stats").crossJoin(batchStats)
      .select((col("__n") + col("__bn")).as("__n"),
        (col("__tot") + col("__btot")).as("__tot"))
    // self-read-safe rewrite with ONE data write per side table: the
    // merge plan reads the OLD table while the shadow writes, then a
    // catalog rename swaps it in (the Bucketing.swapRewrite posture —
    // the scratch snapshot + second write are gone)
    Seq((s"${table}_df", mergedDf), (s"${table}_stats", mergedStats))
      .foreach { case (name, df) =>
        val shadow = name + "__rw"
        Bucketing.dropForRewrite(spark, shadow)
        df.write.mode("overwrite").format("parquet").saveAsTable(shadow)
        Bucketing.dropForRewrite(spark, name)
        spark.sql(s"ALTER TABLE $shadow RENAME TO $name")
      }
  }

  /** Tombstone-apply for the BM25 index — the takedown/opt-out write
    * that completes the build → append → compact lifecycle. Deletion
    * is the interesting direction for a sparse index because the
    * GLOBAL statistics must shrink EXACTLY: df is additive over
    * disjoint doc sets (the [[appendToBm25Index]] invariant), so
    * removing a doc set decrements each term's df by the count of its
    * deleted postings — and a term whose postings all die leaves the
    * vocabulary entirely, matching a from-scratch rebuild over the
    * survivors bit for bit; (n, tot) subtract the deleted docs' count
    * and token mass the same way. SINGLE-PASS: the postings rewrite is
    * [[Bucketing.deleteFromBucketed]] (anti-join through scratch,
    * bucket/sort layout preserved, doubles as a compaction), and df /
    * stats then RECOMPUTE from the rewritten postings exactly as the
    * build path does — per-term df is bucket-local (zero exchange) and
    * (n, tot) is one pass over the compact index, both EXACT integer
    * aggregates, so recompute ≡ decrement bit for bit while the
    * dead-postings semi-join, its two decrement snapshots and the two
    * merge-through-scratch writes all disappear (4 table-write cycles
    * instead of 9; guide §2.4 — fewer passes, and the extra aggregate
    * rides a relation the rewrite already scans). Ids absent from the
    * index are no-ops — takedown lists are routinely replayed. Cost:
    * one scan/shuffle of the compact index relation, never the corpus
    * text. */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          table: String, deleteIds: DataFrame,
                          idCol: String): Unit = {
    Bucketing.deleteFromBucketed(spark,
      table, deleteIds.select(col(idCol).as("__did")), "__did")
    // df/stats from the SURVIVING postings — the buildBm25Index step
    // verbatim: reads the just-rewritten postings table, writes the two
    // side tables (no self-read, no scratch hop needed)
    val stored = spark.table(table)
    Bucketing.dropForRewrite(spark, s"${table}_df")
    stored.groupBy("__t").agg(count(lit(1)).as("__df"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_df")
    Bucketing.dropForRewrite(spark, s"${table}_stats")
    stored.agg(count_distinct(col("__did")).as("__n"),
        coalesce(sum("__tf"), lit(0L)).as("__tot"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_stats")
  }

  /** Score a query batch against a [[buildBm25Index]] index: the
    * query-batch terms BROADCAST onto a map-side scan of the df table
    * (the df table streams — a 100 TB corpus's vocabulary is itself
    * too big to broadcast), yielding a (qid, term, df) relation bounded
    * by the query batch, which then broadcasts onto the postings scan —
    * so BOTH index relations are consumed exchange-free (plan-asserted
    * in OperatorsSpec). Per-term scores
    * quantize and sum exactly as [[bm25]] does (identical integers in,
    * identical expressions, identical floor — single-shot ≡ indexed,
    * bit for bit). Only matched postings ever leave the scan; the one
    * exchange is the candidate-(query, doc) aggregate. Output:
    * (query_id, rank, doc_id, bm25). */
  def bm25AgainstIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String, queries: DataFrame, qidCol: String,
                       qtextCol: String, k1: Double = 1.2,
                       b: Double = 0.75, topK: Int = 10,
                       excludeSelf: Boolean = true): DataFrame = {
    val qt0 = queries.select(col(qidCol).as("__qid"),
      explode(array_distinct(tokens(col(qtextCol)))).as("__t"))
    // df streams, the query batch broadcasts — never the reverse
    val qt = spark.table(s"${table}_df").join(broadcast(qt0), "__t")
      .select(col("__qid"), col("__t"), col("__df"))
    val stats = spark.table(s"${table}_stats")
    val idf = log((col("__n").cast("double") - col("__df").cast("double") + 0.5) /
      (col("__df").cast("double") + 0.5) + 1.0)
    val avglen = col("__tot").cast("double") / col("__n").cast("double")
    val tfd = col("__tf").cast("double")
    val tfn = tfd * (k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("__len").cast("double") / avglen))
    val perTerm = spark.table(table)
      .join(broadcast(qt), "__t")
      .crossJoin(broadcast(stats))
      .where(if (excludeSelf) col("__did") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__did"),
        floor(idf * tfn * 1e9).cast("long").as("__q"))
    val summed = perTerm.groupBy("__qid", "__did")
      .agg(sum("__q").as("__s"))
    summed.groupBy("__qid")
      .agg(graft.functions.TopKByScore(
        col("__s").cast("double"), col("__did").cast("long"), topK).as("__top"))
      .select(col("__qid"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("__qid").as("query_id"), (col("__pos") + 1).as("rank"),
        col("__e.id").as("doc_id"), (col("__e.score") / 1e9).as("bm25"))
  }

  /** A [[bm25]] score rounded to 6 decimals in the integer domain:
    * recover the exact nano-unit sum (below 2^53, so the double holds it
    * exactly), round it half up to micro-units (scores are non-negative,
    * so `div` truncating `+ 500` does that), divide. `round(bm25, 6)`
    * rounds the double, and engines disagree on half-way ties: Spark
    * rounds the decimal form 66.3606885 up, DuckDB the binary double
    * just below it down. [[bm25MicroSql]] is the same rounding for the
    * oracle. */
  def bm25Micro(score: Column): Column =
    call_function("div", round(score * 1e9).cast("long") + 500, lit(1000)) / 1e6

  /** [[bm25Micro]] in DuckDB SQL, over an integer nano-unit sum. */
  def bm25MicroSql(nanos: String): String = s"(($nanos + 500) // 1000) / 1e6"

  /** [[bm25]] as DuckDB SQL over `(doc_id, text)` relations named `docs`
    * and `qs` (provide via WITH prefix): identical tokenization, idf,
    * quantization and integer summation. */
  def bm25OracleSql(k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): String =
    s"""${bm25CtesSql(k1, b)}
       |SELECT query_id, rank, doc_id, ${bm25MicroSql("s")} AS bm25
       |FROM rk WHERE rank <= $topK""".stripMargin

  /** The CTE chain behind [[bm25OracleSql]], ending at `rk(query_id,
    * doc_id, s, bm25, rank)` (`s` the integer nano-unit sum) — composable
    * into larger oracles (the hybrid fusion reuses it). */
  def bm25CtesSql(k1: Double = 1.2, b: Double = 0.75): String =
    s"""toks AS (SELECT doc_id AS did,
       |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |                       w -> len(w) > 0)) AS t FROM docs),
       |dl AS (SELECT did, count(*) AS len FROM toks GROUP BY did),
       |tf AS (SELECT did, t, count(*) AS tf FROM toks GROUP BY did, t),
       |dfr AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |st AS (SELECT count(*) AS n, sum(len) AS tot FROM dl),
       |qt AS (SELECT doc_id AS qid, unnest(list_distinct(
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0))) AS t FROM qs),
       |pt AS (SELECT qid, tf.did,
       |    CAST(floor(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |          / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |      * (CAST(tf AS DOUBLE) * (CAST($k1 AS DOUBLE) + 1.0)
       |         / (CAST(tf AS DOUBLE) + CAST($k1 AS DOUBLE)
       |            * (1.0 - CAST($b AS DOUBLE) + CAST($b AS DOUBLE)
       |               * CAST(len AS DOUBLE)
       |               / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))))
       |      * 1e9) AS BIGINT) AS q
       |  FROM qt JOIN tf USING (t) JOIN dfr USING (t) JOIN dl USING (did)
       |  CROSS JOIN st WHERE tf.did <> qt.qid),
       |sm AS (SELECT qid, did, sum(q) AS s FROM pt GROUP BY qid, did),
       |rk AS (SELECT qid AS query_id, did AS doc_id, s,
       |    CAST(s AS DOUBLE) / 1e9 AS bm25,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY CAST(s AS DOUBLE) DESC, did) AS rank
       |  FROM sm)""".stripMargin

  /** Unicode normalization (codegen'd native expression with an ASCII
    * fast path — [[graft.functions.UnicodeNormalize]]): "café" with a
    * precomposed é and with e + combining acute are byte-distinct to
    * md5/shingles/exact-dedup but render identically; normalize BEFORE
    * fingerprinting. Forms: NFC (default), NFD, NFKC, NFKD. */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.GraftSqlBridge.expression(text), form))

  /** Document TF-IDF over lowercase whitespace tokens:
    * (doc_id, token, tf, df, tfidf) with smooth idf = ln((1+N)/(1+df)) + 1
    * (sklearn's default). Exactly two shuffles — one groupBy (doc, token)
    * for tf, one groupBy token for df — and the df side is |vocab| rows,
    * so Catalyst/AQE broadcast the join back at any corpus scale (cut the
    * long tail first with `minDf` if the vocab itself is huge). `nDocs`
    * is taken as a parameter so callers reuse a count they already have;
    * pass df.count() otherwise. */
  def tfidf(df: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String, nDocs: Long, minDf: Long = 1): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol),
      explode(tokens(lower(col(textCol)))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    tf.join(dfreq, "token")
      .withColumn("idf",
        log((lit(1.0) + nDocs.toDouble) / (col("df") + lit(1.0))) + lit(1.0))
      .withColumn("tfidf", col("tf") * col("idf"))
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("idf"), col("tfidf"))
  }

  /** RAG-style overlapping token chunks: windows of `chunkSize` tokens
    * starting every `chunkSize - overlap` tokens (the last chunk may be
    * shorter; docs with zero tokens emit nothing). One bounded Generate
    * per document — ~n/step rows each — and integer starts, so the
    * chunk table is engine-exact and embarrassingly parallel (no
    * shuffle at all: chunking is a per-row expansion).
    *
    * Output: (id, chunk_idx, chunk_text, n_tokens). */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, chunkSize: Int,
                  overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val step = (chunkSize - overlap).toLong
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0L), (size(col("__t")) - 1).cast("long"),
          lit(step))).as("__s"))
      .select(col(idCol),
        expr(s"__s DIV $step").as("chunk_idx"),
        concat_ws(" ", slice(col("__t"), (col("__s") + 1).cast("int"),
          lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize.toLong),
          size(col("__t")).cast("long") - col("__s")).as("n_tokens"))
  }

  /** Corpus unigram language model — the perplexity-proxy quality signal
    * (CCNet-style: docs whose tokens are improbable under the corpus
    * model are boilerplate/garbage candidates). One explode + one
    * groupBy(token) count; the 1-row total broadcasts back. Output:
    * (token, n, logp) with logp = ln(n / total). */
  def unigramModel(corpus: DataFrame, textCol: String): DataFrame = {
    val vocab = corpus.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    vocab.crossJoin(broadcast(vocab.agg(sum(col("n")).as("__total"))))
      .select(col("token"), col("n"),
        log(col("n").cast("double") / col("__total")).as("logp"))
  }

  /** Mean token log-probability per document under a [[unigramModel]].
    *
    * Per-token log-probs are quantized to integer nano-units
    * (floor(logp·1e9) as long) BEFORE the per-doc sum: double summation
    * is order-dependent in the last ulps and a distributed aggregation
    * has no fixed order, so the exact integer sum is what makes the
    * score reproducible across partitionings and engines (the same
    * trick as the decimal-exact moments in describe/zscore). The model
    * broadcasts by default (a corpus vocabulary is ~millions of rows —
    * broadcastable; disable for pathological vocabularies and it
    * becomes a plain shuffle join). Unseen tokens score `oovLogProb`.
    * Zero-token docs drop out (no tokens to score). Output: (idCol,
    * n_tokens, logprob_mean). */
  def unigramScore(docs: DataFrame, idCol: String, textCol: String,
                   model: DataFrame, broadcastModel: Boolean = true,
                   oovLogProb: Double = -20.0): DataFrame = {
    val m0 = model.select(col("token").as("__t"),
      floor(col("logp") * 1e9).cast("long").as("__lq"))
    val m = if (broadcastModel) broadcast(m0) else m0
    docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .join(m, Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__lq"),
          lit(math.floor(oovLogProb * 1e9).toLong))).as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / (col("n_tokens").cast("double") * 1e9))
          .as("logprob_mean"))
  }

  /** [[unigramModel]] + [[unigramScore]] fit-and-score as DuckDB SQL over
    * a `(doc_id, text)` relation named `base` (provide via WITH prefix):
    * identical tokenization, ln(n/total), nano-quantization and exact
    * integer summation. */
  def unigramScoreOracleSql: String =
    s"""tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |                       w -> len(w) > 0)) AS t FROM base),
       |vocab AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
       |tot AS (SELECT sum(n) AS total FROM vocab),
       |model AS (SELECT t,
       |    CAST(floor(ln(CAST(n AS DOUBLE) / total) * 1e9) AS BIGINT) AS lq
       |  FROM vocab, tot),
       |sc AS (SELECT doc_id, count(*) AS n_tokens, sum(lq) AS s
       |  FROM tok JOIN model USING (t) GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  round(CAST(s AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e9), 6)
       |    AS logprob_mean
       |FROM sc""".stripMargin

  /** Mean token log-score per document under a bigram model with STUPID
    * BACKOFF (Brants et al. 2007, "Large Language Models in Machine
    * Translation" §4 — the web-scale smoothing that needs no discount
    * normalization): token i ≥ 2 scores ln(c(w₁w₂)/c(w₁)) when the
    * bigram was seen, else α·(unigram) → ln(α·(c(w₂)/N)); the head token
    * scores the plain unigram ln(c(w)/N); tokens unseen by the model
    * score `oovLogProb`. Fit on `modelDocs` and score `docs` — fitting
    * on a clean sub-corpus and scoring the whole crawl is the fluency
    * filter stack (perplexity-style filtering à la CCNet) this exists
    * for, and it is what makes the backoff branches live.
    *
    * Per-term log-scores nano-quantize BEFORE the per-doc sum (the
    * [[unigramScore]] trick) so the score is an exact integer sum —
    * bit-reproducible across partitionings and engines. Doc bigrams are
    * a NARROW zip_with over the token array (no positional self-join of
    * the exploded relation); the two model relations are vocabulary- and
    * bigram-type-sized aggregates that broadcast by default (disable for
    * pathological vocabularies → plain shuffle joins); N rides a one-row
    * broadcast. Corpus-side work is one explode + key-bounded joins —
    * no shuffle keyed on doc count except the final per-doc aggregate.
    * Zero-token docs drop out. Output: (idCol, n_tokens, logprob_mean).
    */
  def stupidBackoffScore(docs: DataFrame, modelDocs: DataFrame,
                         idCol: String, textCol: String,
                         alpha: Double = 0.4,
                         broadcastModel: Boolean = true,
                         oovLogProb: Double = -20.0): DataFrame = {
    val oovNano = math.floor(oovLogProb * 1e9).toLong
    def maybeB(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    // model: unigram counts, total, bigram counts (type counts, not doc
    // occurrences — the standard MLE numerators)
    val uni = maybeB(modelDocs
      .select(explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c1")))
    val tot = uni.agg(sum("__c1").cast("double").as("__n"))
    val bigPairs = (df: DataFrame) => df
      .select(col("*"), tokens(col(textCol)).as("__ts"))
      .where(size(col("__ts")) >= 2)
      .select(col("*"), explode(expr(
        "zip_with(slice(__ts, 1, size(__ts) - 1), " +
          "slice(__ts, 2, size(__ts) - 1), " +
          "(a, b) -> struct(a AS __w1, b AS __w2))")).as("__bg"))
      .select(col("*"), col("__bg.__w1").as("__w1"), col("__bg.__w2").as("__w2"))
    val big = maybeB(bigPairs(modelDocs.select(col(textCol)))
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__c2")))
    // doc terms: head token (unigram) ∪ bigram transitions
    val head = docs
      .select(col(idCol), tokens(col(textCol)).as("__ts"))
      .where(size(col("__ts")) >= 1)
      .select(col(idCol), col("__ts").getItem(0).as("__t"))
      .join(uni, Seq("__t"), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        when(col("__c1").isNotNull,
          floor(log(col("__c1").cast("double") / col("__n")) * 1e9).cast("long"))
          .otherwise(lit(oovNano)).as("__lq"))
    val trans = bigPairs(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), col("__w1"), col("__w2"))
      .join(big, Seq("__w1", "__w2"), "left")
      .join(uni.select(col("__t").as("__w1"), col("__c1").as("__c1a")), Seq("__w1"), "left")
      .join(uni.select(col("__t").as("__w2"), col("__c1").as("__c1b")), Seq("__w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        when(col("__c2").isNotNull,
          floor(log(col("__c2").cast("double") / col("__c1a").cast("double")) * 1e9)
            .cast("long"))
          .when(col("__c1b").isNotNull,
            floor(log(lit(alpha) * (col("__c1b").cast("double") / col("__n"))) * 1e9)
              .cast("long"))
          .otherwise(lit(oovNano)).as("__lq"))
    head.union(trans)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("__lq").as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / (col("n_tokens").cast("double") * 1e9))
          .as("logprob_mean"))
  }

  /** [[stupidBackoffScore]] fit-and-score as DuckDB SQL: model over a
    * `(text)` relation named `mbase`, scoring over `(doc_id, text)`
    * named `base` (provide both via WITH prefix). Identical
    * tokenization, identical double expression trees (c2/c1 then ln;
    * α·(c1/N) then ln), identical nano-quantization and exact integer
    * summation. Doc bigrams come from a positional self-join of the
    * exploded token relation — same pairs as the Spark zip_with. */
  def stupidBackoffOracleSql(alpha: Double = 0.4,
                             oovLogProb: Double = -20.0): String = {
    val oovNano = math.floor(oovLogProb * 1e9).toLong
    s"""mtok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |                       w -> len(w) > 0)) AS t FROM mbase),
       |uni AS (SELECT t, count(*) AS c1 FROM mtok GROUP BY t),
       |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
       |mts AS (SELECT row_number() OVER () AS mid,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0) AS ts FROM mbase),
       |mpos AS (SELECT mid, generate_subscripts(ts, 1) AS pos, unnest(ts) AS t
       |  FROM mts),
       |big AS (SELECT a.t AS w1, b.t AS w2, count(*) AS c2
       |  FROM mpos a JOIN mpos b ON a.mid = b.mid AND b.pos = a.pos + 1
       |  GROUP BY a.t, b.t),
       |dts AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0) AS ts FROM base),
       |dpos AS (SELECT doc_id, generate_subscripts(ts, 1) AS pos, unnest(ts) AS t
       |  FROM dts),
       |terms AS (
       |  SELECT h.doc_id,
       |    CASE WHEN u.c1 IS NOT NULL
       |      THEN CAST(floor(ln(CAST(u.c1 AS DOUBLE) / tot.n) * 1e9) AS BIGINT)
       |      ELSE CAST($oovNano AS BIGINT) END AS lq
       |  FROM (SELECT doc_id, t FROM dpos WHERE pos = 1) h
       |  LEFT JOIN uni u ON h.t = u.t, tot
       |  UNION ALL
       |  SELECT p.doc_id,
       |    CASE WHEN bg.c2 IS NOT NULL
       |      THEN CAST(floor(ln(CAST(bg.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)) * 1e9) AS BIGINT)
       |    WHEN u2.c1 IS NOT NULL
       |      THEN CAST(floor(ln($alpha * (CAST(u2.c1 AS DOUBLE) / tot.n)) * 1e9) AS BIGINT)
       |    ELSE CAST($oovNano AS BIGINT) END AS lq
       |  FROM (SELECT a.doc_id, a.t AS w1, b.t AS w2
       |        FROM dpos a JOIN dpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1) p
       |  LEFT JOIN big bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
       |  LEFT JOIN uni u1 ON p.w1 = u1.t
       |  LEFT JOIN uni u2 ON p.w2 = u2.t, tot),
       |sc AS (SELECT doc_id, count(*) AS n_tokens, sum(lq) AS s
       |  FROM terms GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  round(CAST(s AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e9), 6)
       |    AS logprob_mean
       |FROM sc""".stripMargin
  }

  // --------------------------------------------------------------------
  // Multinomial Naive Bayes (add-one smoothing) — the count-based text
  // classifier a curation pipeline trains IN-ENGINE on a labeled
  // sub-corpus (language, domain, quality tier) and applies to the whole
  // crawl: the classic fastText-free quality/language filter. Training
  // is pure integer counting; scoring quantizes every per-token
  // log-likelihood to nano-units BEFORE the per-(doc, label) sum (the
  // [[unigramScore]] recipe), so both phases are exact, partition-
  // invariant, and bit-replayable by the oracle.
  // --------------------------------------------------------------------

  /** A trained NB model: `labelStats` = one row per label (label,
    * n_docs, n_label_tokens, prior_q, default_q) with the nano-quantized
    * log-prior and the unseen-token log-likelihood; `tokenCounts` = the
    * (label, token) log-likelihood grid (label, token, lq). Both are
    * model-sized (|labels| and ≤ |labels|·|vocab| rows) and broadcast at
    * scoring time. */
  final case class NbModel(labelStats: DataFrame, tokenCounts: DataFrame)

  /** Fit multinomial NB with add-one smoothing on `(labelCol, textCol)`
    * rows (NULL labels excluded): per-label token counts, the GLOBAL
    * training vocabulary size V, priors n_docs/total_docs. Likelihoods
    * ln((c+1)/(T_label+V)) and priors quantize to nano-longs HERE, so
    * scoring aggregates integers only. Two grouped count aggregates +
    * model-sized arithmetic — one corpus scan for counts, one for doc
    * priors. */
  def nbTrain(corpus: DataFrame, labelCol: String, textCol: String): NbModel = {
    // NOT spread: A/B'd in the r14 round (q_nb 2.33 → 3.05 s) — the
    // model-sized aggregates + broadcast builds dominate and the extra
    // 32-task stages cost more than the tokenize parallelism wins
    val base = corpus.where(col(labelCol).isNotNull)
      .select(col(labelCol).as("label"), col(textCol).as("__text"))
    val toks = base.select(col("label"), explode(tokens(col("__text"))).as("__t"))
    val counts = toks.groupBy("label", "__t").agg(count(lit(1)).as("__c"))
    val vocab = counts.select("__t").distinct()
      .agg(count(lit(1)).as("__v"))
    val labelToks = counts.groupBy("label").agg(sum("__c").as("__lt"))
    val labelDocs = base.groupBy("label").agg(count(lit(1)).as("n_docs"))
    val totalDocs = base.agg(count(lit(1)).as("__td"))
    val labelStats = labelDocs
      .join(labelToks, Seq("label"), "left")
      .select(col("label"), col("n_docs"),
        coalesce(col("__lt"), lit(0L)).as("n_label_tokens"))
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(totalDocs))
      .select(col("label"), col("n_docs"), col("n_label_tokens"),
        floor(log(col("n_docs").cast("double") / col("__td")) * 1e9)
          .cast("long").as("prior_q"),
        floor(log(lit(1.0) / (col("n_label_tokens") + col("__v"))) * 1e9)
          .cast("long").as("default_q"))
    val tokenCounts = counts
      .join(labelStats.select(col("label"), col("n_label_tokens")), "label")
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("__t").as("token"),
        floor(log((col("__c") + 1).cast("double") /
          (col("n_label_tokens") + col("__v"))) * 1e9)
          .cast("long").as("lq"))
    NbModel(labelStats, tokenCounts)
  }

  /** Score and classify `docs` under a trained [[NbModel]]: per (doc,
    * label), score_q = prior_q + Σ_tokens lq (unseen tokens take the
    * label's default_q) — an exact long sum; the prediction is the
    * max-score label with the MIN-label tie-break (deterministic, the
    * [[graft.operators.GraphOps]] label-propagation rule). Zero-token
    * docs drop out (nothing to score — same contract as
    * [[unigramScore]]). Scoring is honestly |labels|× the token stream
    * (every class scores every token), one (doc, label) aggregate, one
    * per-doc argmax; the model broadcasts. Output: (idCol, pred,
    * n_tokens, score = score_q/1e9). */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
                 model: NbModel, broadcastModel: Boolean = true): DataFrame = {
    val ls0 = model.labelStats
      .select(col("label"), col("prior_q"), col("default_q"))
    val tc0 = model.tokenCounts
    val (ls, tc) =
      if (broadcastModel) (broadcast(ls0), broadcast(tc0))
      else (ls0, tc0)
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val scored = toks.crossJoin(ls)
      .join(tc.select(col("label"), col("token").as("__t"), col("lq")),
        Seq("label", "__t"), "left")
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(coalesce(col("lq"), col("default_q"))) +
          first(col("prior_q"))).as("__sq"))
    scored.groupBy(col(idCol))
      .agg(min(struct((-col("__sq")).as("__neg"), col("label"))).as("__m"),
        first(col("n_tokens")).as("n_tokens"))
      .select(col(idCol), col("__m.label").as("pred"), col("n_tokens"),
        ((-col("__m.__neg")).cast("double") / 1e9).as("score"))
  }

  /** [[nbTrain]] + [[nbClassify]] fit-and-classify as DuckDB SQL:
    * trains on relation `tr` (label, text), classifies relation `te`
    * (doc_id, text) — provide both via a WITH prefix. Identical
    * tokenization, add-one arithmetic, nano-quantization, integer
    * summation, and min-label argmax tie-break. Emits WITH bodies
    * through `pred` (doc_id, pred, n_tokens, score). */
  def nbOracleSql: String = {
    val toks =
      "list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)"
    s"""ttok AS (SELECT label, unnest($toks) AS t FROM tr),
       |cnts AS (SELECT label, t, CAST(count(*) AS BIGINT) AS c
       |  FROM ttok GROUP BY label, t),
       |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM cnts),
       |ltok AS (SELECT label, CAST(sum(c) AS BIGINT) AS lt
       |  FROM cnts GROUP BY label),
       |ldoc AS (SELECT label, CAST(count(*) AS BIGINT) AS nd
       |  FROM tr GROUP BY label),
       |tdoc AS (SELECT CAST(count(*) AS BIGINT) AS td FROM tr),
       |ls AS (SELECT ldoc.label, nd, COALESCE(lt, 0) AS lt,
       |    CAST(floor(ln(CAST(nd AS DOUBLE) / td) * 1e9) AS BIGINT)
       |      AS prior_q,
       |    CAST(floor(ln(1.0 / (COALESCE(lt, 0) + v)) * 1e9) AS BIGINT)
       |      AS default_q
       |  FROM ldoc LEFT JOIN ltok ON ldoc.label = ltok.label, voc, tdoc),
       |grid AS (SELECT cnts.label, t AS token,
       |    CAST(floor(ln(CAST(c + 1 AS DOUBLE) / (lt + v)) * 1e9) AS BIGINT)
       |      AS lq
       |  FROM cnts JOIN ls ON cnts.label = ls.label, voc),
       |dtok AS (SELECT doc_id, unnest($toks) AS t FROM te),
       |sc AS (SELECT doc_id, ls.label,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(COALESCE(lq, default_q)) + any_value(prior_q) AS BIGINT)
       |      AS sq
       |  FROM dtok CROSS JOIN ls
       |  LEFT JOIN grid ON grid.label = ls.label AND grid.token = dtok.t
       |  GROUP BY doc_id, ls.label),
       |pred AS (SELECT doc_id, label AS pred, n_tokens,
       |    CAST(sq AS DOUBLE) / 1e9 AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY sq DESC, label ASC) AS rn FROM sc)
       |  WHERE rn = 1)""".stripMargin
  }

  // --------------------------------------------------------------------
  // Hashing-trick TF featurization (Weinberger et al. 2009; the Vowpal
  // Wabbit recipe) — turn raw text into FIXED-dimension dense vectors
  // with no vocabulary table at all: token → md5 bucket, per-doc
  // term-frequency normalized by length. The bridge from the text
  // surface to [[LinearModel.logisticFit]]: hash + featurize + train +
  // score, entirely in-engine, any corpus size, zero driver state.
  // --------------------------------------------------------------------

  /** Per-document `dim`-dimensional hashed-TF vector: bucket =
    * md5-uniform(token) mod dim ([[DetRandom.md5Long48]] — engine-
    * exact, no vocab), feature x_b = count_b · dim / n_tokens (exact
    * integer products → identical doubles; the ·dim puts features at
    * O(1) magnitude so downstream gradient descent is conditioned —
    * raw tf at large dim leaves every coordinate ~1/dim and the
    * trainer crawls). Zero-token docs drop (nothing to featurize —
    * the [[nbClassify]] contract). ONE doc-key exchange: the
    * (doc, bucket) count and the dense-array assembly ride the same
    * aggregate pair. Output: (idCol, features: array<double>,
    * n_tokens). */
  def hashedTfVectors(docs: DataFrame, idCol: String, textCol: String,
                      dim: Int = 64): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__t"))
    val cnt = toks
      .select(col(idCol),
        pmod(DetRandom.md5Long48(col("__t")), lit(dim.toLong))
          .cast("int").as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
    cnt.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c"))))
        .as("__m"), sum("__c").as("n_tokens"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (coalesce(element_at(col("__m"), i), lit(0L)) * dim)
            .cast("double") / col("n_tokens").cast("double"))
          .as("features"),
        col("n_tokens"))
  }

  /** [[hashedTfVectors]] in SPARSE form — (idCol, pos ∈ 1..dim, x,
    * n_tokens) rows, absent buckets implicit zeros: the input shape
    * for [[LinearModel.logisticFitSparse]]. One doc-key exchange (the
    * bucket count and the per-doc length ride the same partitioning:
    * count then a doc-partition window sum). */
  def hashedTfPairs(docs: DataFrame, idCol: String, textCol: String,
                    dim: Int = 256): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val cnt = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        pmod(DetRandom.md5Long48(col("__t")), lit(dim.toLong))
          .cast("int").as("__b"))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    cnt.withColumn("n_tokens", sum("__c").over(wn))
      .select(col(idCol), (col("__b") + 1).as("pos"),
        (col("__c") * dim).cast("double") /
          col("n_tokens").cast("double") as "x",
        col("n_tokens"))
  }

  /** The sparse-exploded DuckDB twin of [[hashedTfVectors]] feeding
    * [[LinearModel.logisticCtesFromSql]]: emits CTE bodies `fcnt`,
    * `flen` and `e` (vec_id, pos, x, y) from a relation `fdoc`
    * (doc_id, text, y) the caller provides. Sparse (zero features
    * absent) — arithmetically identical under the per-term DECIMAL
    * sums, since zero terms add exact zero. */
  def hashedTfOracleSql(dim: Int = 64): String = {
    val toks =
      "list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)"
    val bucket = DetRandom.md5Long48SqlExpr("t")
    s"""ftok AS MATERIALIZED (SELECT doc_id, unnest($toks) AS t, y FROM fdoc),
       |fcnt AS MATERIALIZED (SELECT doc_id, CAST(($bucket) % $dim AS INT) AS b,
       |    CAST(count(*) AS BIGINT) AS c, any_value(y) AS y
       |  FROM ftok GROUP BY doc_id, CAST(($bucket) % $dim AS INT)),
       |flen AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
       |  FROM fcnt GROUP BY doc_id),
       |e AS MATERIALIZED (SELECT fcnt.doc_id AS vec_id, b + 1 AS pos,
       |    CAST(c * $dim AS DOUBLE) / CAST(n AS DOUBLE) AS x, y
       |  FROM fcnt JOIN flen USING (doc_id))""".stripMargin
  }

  // --------------------------------------------------------------------
  // Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
  // Goodman 1999 §2.7) — the perplexity filter of the CCNet recipe:
  // train the LM on a trusted sub-corpus, keep crawl documents whose
  // perplexity under it is low. Absolute discount d on bigram counts,
  // with the discounted mass interpolated against the CONTINUATION
  // distribution (how many distinct histories a word follows — the fix
  // for "San Francisco" inflating "Francisco"). All model relations are
  // integer counts; each scored bigram's log-probability is one closed
  // form over those integers, nano-quantized before the per-doc fold.
  // --------------------------------------------------------------------

  /** Per-document interpolated-KN bigram log-probability and perplexity
    * of `docs` under a model trained on `modelDocs`:
    * p(w2|w1) = max(c(w1w2)−d, 0)/c(w1·) + d·N1+(w1·)/c(w1·)·p_cont(w2)
    * with p_cont(w2) = (N1+(·w2)+1)/(N1+(··)+V+1) — add-one on the
    * continuation distribution so unseen words keep nonzero mass (the
    * documented OOV floor); an unseen HISTORY backs off to p_cont
    * alone. Docs with < 2 tokens drop (no bigram to score).
    *
    * Scale: model = three grouped counts off the bigram-type relation
    * (vocab/bigram-type-sized, broadcast); scoring = the doc bigram
    * stream joined on (w1,w2), w1, w2 posting keys, then ONE per-doc
    * fold of quantized terms. Output: (idCol, n_bigrams, logprob,
    * ppl). */
  def kneserNeyScore(docs: DataFrame, modelDocs: DataFrame,
                     idCol: String, textCol: String,
                     discount: Double = 0.75,
                     broadcastModel: Boolean = true): DataFrame = {
    def maybeB(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    val bigExpr = expr(
      "zip_with(slice(__ts, 1, size(__ts) - 1), " +
        "slice(__ts, 2, size(__ts) - 1), " +
        "(a, b) -> struct(a AS __w1, b AS __w2))")
    def bigPairs(df: DataFrame) = df
      .select(col("*"), tokens(col(textCol)).as("__ts"))
      .where(size(col("__ts")) >= 2)
      .select(col("*"), explode(bigExpr).as("__bg"))
      .select(col("*"), col("__bg.__w1").as("__w1"),
        col("__bg.__w2").as("__w2"))
    // NOT spread: A/B'd in the r14 round (q_kn_lm 1.80 → 3.02 s with
    // Spread on the model + scoring scans) — model-relation broadcasts
    // dominate; the fused single-task bigram kernel is cheaper here
    val big = maybeB(bigPairs(modelDocs.select(col(textCol)))
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__c2")))
    val hist = maybeB(big.groupBy("__w1")
      .agg(sum("__c2").as("__c1"), count(lit(1)).as("__n1f")))
    val cont = maybeB(big.groupBy("__w2")
      .agg(count(lit(1)).as("__n1b")))
    val vocab = modelDocs
      .select(explode(tokens(col(textCol))).as("__t"))
      .agg(count_distinct(col("__t")).as("__v"))
    val tots = big.agg(count(lit(1)).as("__nt"))
      .crossJoin(broadcast(vocab))
    val d = lit(discount)
    val pcont = (coalesce(col("__n1b"), lit(0L)) + 1).cast("double") /
      (col("__nt") + col("__v") + 1).cast("double")
    val c1d = col("__c1").cast("double")
    val p = when(col("__c1").isNotNull,
      greatest(coalesce(col("__c2"), lit(0L)).cast("double") - d, lit(0.0)) /
        c1d + d * col("__n1f").cast("double") / c1d * pcont)
      .otherwise(pcont)
    bigPairs(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), col("__w1"), col("__w2"))
      .join(big, Seq("__w1", "__w2"), "left")
      .join(hist, Seq("__w1"), "left")
      .join(cont, Seq("__w2"), "left")
      .crossJoin(broadcast(tots))
      .select(col(idCol), floor(log(p) * lit(1e9)).cast("long").as("__lq"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum("__lq").as("__s"))
      .select(col(idCol), col("n_bigrams"),
        (col("__s").cast("double") / lit(1e9)).as("logprob"),
        exp(-(col("__s").cast("double") / lit(1e9)) /
          col("n_bigrams").cast("double")).as("ppl"))
  }

  /** [[kneserNeyScore]] as DuckDB SQL over relations `tr` (text) and
    * `te` (doc_id, text) — provide both via a WITH prefix; emits WITH
    * bodies through `kn` (doc_id, n_bigrams, logprob, ppl). Same
    * counts, same closed form, same quantized fold. */
  def knOracleSql(discount: Double = 0.75): String = {
    val toks =
      "list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)"
    s"""mts AS (SELECT row_number() OVER () AS mid, $toks AS ts FROM tr),
       |mpos AS (SELECT mid, generate_subscripts(ts, 1) AS pos, unnest(ts) AS t
       |  FROM mts),
       |big AS (SELECT a.t AS w1, b.t AS w2, CAST(count(*) AS BIGINT) AS c2
       |  FROM mpos a JOIN mpos b ON a.mid = b.mid AND b.pos = a.pos + 1
       |  GROUP BY a.t, b.t),
       |hist AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1f
       |  FROM big GROUP BY w1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b
       |  FROM big GROUP BY w2),
       |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM mpos),
       |tots AS (SELECT CAST(count(*) AS BIGINT) AS nt, v FROM big, voc
       |  GROUP BY v),
       |dts AS (SELECT doc_id, $toks AS ts FROM te),
       |dpos AS (SELECT doc_id, generate_subscripts(ts, 1) AS pos, unnest(ts) AS t
       |  FROM dts),
       |dbig AS (SELECT a.doc_id, a.t AS w1, b.t AS w2
       |  FROM dpos a JOIN dpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |terms AS (SELECT p.doc_id,
       |    CAST(floor(ln(CASE WHEN h.c1 IS NOT NULL
       |      THEN greatest(CAST(COALESCE(bg.c2, 0) AS DOUBLE) - $discount, 0.0)
       |          / CAST(h.c1 AS DOUBLE)
       |        + $discount * CAST(h.n1f AS DOUBLE) / CAST(h.c1 AS DOUBLE)
       |          * (CAST(COALESCE(ct.n1b, 0) + 1 AS DOUBLE)
       |            / CAST(tots.nt + tots.v + 1 AS DOUBLE))
       |      ELSE CAST(COALESCE(ct.n1b, 0) + 1 AS DOUBLE)
       |        / CAST(tots.nt + tots.v + 1 AS DOUBLE)
       |      END) * 1e9) AS BIGINT) AS lq
       |  FROM dbig p
       |  LEFT JOIN big bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
       |  LEFT JOIN hist h ON p.w1 = h.w1
       |  LEFT JOIN cont ct ON p.w2 = ct.w2, tots),
       |kn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(lq) AS DOUBLE) / 1e9 AS logprob,
       |    exp(-(CAST(sum(lq) AS DOUBLE) / 1e9)
       |      / CAST(count(*) AS DOUBLE)) AS ppl
       |  FROM terms GROUP BY doc_id)""".stripMargin
  }

  // --------------------------------------------------------------------
  // Chi-square token–label association — the classic feature-selection
  // / domain-signature readout: which tokens are most discriminative
  // for each label (language, source, quality tier)? Per (token, label)
  // a 2×2 document-presence contingency table; every cell is an exact
  // integer, and χ² is a single closed-form IEEE expression over those
  // integers — bit-identical across engines, so even the χ²-descending
  // ranking replays exactly.
  // --------------------------------------------------------------------

  /** Top-`topK` tokens per label by the 2×2 presence χ² statistic
    * χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) where a = docs with label
    * carrying the token, b/c/d the complements. Tokens with overall
    * document frequency < `minDf` are dropped (rare-token χ² is
    * noise). Ties break token-ascending; both engines rank the same
    * bit-identical doubles.
    *
    * Scale: one distinct over (doc, token, label) presence → one
    * grouped count; per-token totals ride a token-key join; the
    * label-total and N relations are model-sized broadcasts. (ad−bc)
    * is exact in decimal(38,0) (a,d ≤ N — products pass the long line
    * at ~3·10⁹ docs); the square and the denominator fold in double.
    * Output: (label, rank, token, n_label_token, chi2). */
  def chiSquareTokens(corpus: DataFrame, idCol: String, labelCol: String,
                      textCol: String, minDf: Long = 5L,
                      topK: Int = 15): DataFrame = {
    // NOT spread: A/B'd in the r14 round (q_chi2_tokens 1.40 → 1.80 s)
    // — the presence distinct + ranked window dominate, not tokenize
    val base = corpus.where(col(labelCol).isNotNull)
      .select(col(idCol).as("__doc"),
        col(labelCol).as("label"), col(textCol).as("__text"))
    val pres = base.select(col("__doc"), col("label"),
        explode(tokens(col("__text"))).as("token"))
      .distinct()
    val tl = pres.groupBy("token", "label").agg(count(lit(1)).as("__a"))
    val tt = tl.groupBy("token").agg(sum("__a").as("__ct"))
    val lt = base.groupBy("label").agg(count(lit(1)).as("__nl"))
    val nTot = base.agg(count(lit(1)).as("__n"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val a = col("__a"); val b = col("__ct") - col("__a")
    val c0 = col("__nl") - col("__a")
    val d0 = col("__n") - col("__nl") - col("__ct") + col("__a")
    val delta = (d38(a) * d38(d0) - d38(b) * d38(c0)).cast("double")
    val chi2 = col("__n").cast("double") * delta * delta /
      (col("__ct").cast("double") * (col("__n") - col("__ct")).cast("double") *
        col("__nl").cast("double") * (col("__n") - col("__nl")).cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("chi2").desc, col("token").asc)
    tl.where(col("__a") > 0)
      .join(tt, "token")
      .where(col("__ct") >= minDf)
      .join(broadcast(lt), "label")
      .crossJoin(broadcast(nTot))
      // degenerate margins (token in every doc, or label covering the
      // whole corpus) zero a denominator factor → χ² undefined; drop
      .where(col("__ct") < col("__n") && col("__nl") < col("__n"))
      .select(col("label"), col("token"), col("__a").as("n_label_token"),
        chi2.as("chi2"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("label"), col("rank"), col("token"),
        col("n_label_token"), col("chi2"))
  }

  /** [[chiSquareTokens]] as DuckDB SQL — same presence distinct, same
    * decimal-exact (ad−bc), same double fold order, same ranking.
    * Emits WITH bodies through `ranked` (filter `rank <= topK`
    * outside); `relation` must provide (doc id `did`, label, text). */
  def chiSquareOracleSql(relation: String, minDf: Long = 5L): String = {
    val toks =
      "list_filter(string_split_regex(trim(text), '\\s+'), w -> len(w) > 0)"
    s"""pres AS (SELECT DISTINCT did, label, t AS token
       |  FROM (SELECT did, label, unnest($toks) AS t FROM $relation)),
       |tl AS (SELECT token, label, CAST(count(*) AS BIGINT) AS a
       |  FROM pres GROUP BY token, label),
       |tt AS (SELECT token, CAST(sum(a) AS BIGINT) AS ct
       |  FROM tl GROUP BY token),
       |lt AS (SELECT label, CAST(count(*) AS BIGINT) AS nl
       |  FROM $relation GROUP BY label),
       |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $relation),
       |chi AS (SELECT label, token, a AS n_label_token,
       |    CAST(n AS DOUBLE)
       |      * CAST(CAST(a AS HUGEINT) * (n - nl - ct + a)
       |          - CAST(ct - a AS HUGEINT) * (nl - a) AS DOUBLE)
       |      * CAST(CAST(a AS HUGEINT) * (n - nl - ct + a)
       |          - CAST(ct - a AS HUGEINT) * (nl - a) AS DOUBLE)
       |      / (CAST(ct AS DOUBLE) * CAST(n - ct AS DOUBLE)
       |          * CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE)) AS chi2
       |  FROM tl JOIN tt USING (token) JOIN lt USING (label), ntot
       |  WHERE a > 0 AND ct >= $minDf AND ct < n AND nl < n),
       |ranked AS (SELECT label, token, n_label_token, chi2,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY chi2 DESC, token ASC) AS rank
       |  FROM chi)""".stripMargin
  }

  // --------------------------------------------------------------------
  // Jensen–Shannon divergence between two corpora's unigram
  // distributions — the symmetric, bounded ([0, ln 2]) corpus-shift
  // readout (vocabDrift's information-theoretic sibling; the DoReMi /
  // data-mixing literature's distance of choice). Per-token
  // contributions nano-quantize to longs before the vocabulary sum, so
  // the result is exact given each term — partition-invariant and
  // oracle-replayable.
  // --------------------------------------------------------------------

  /** JSD(P‖Q) in nats between the unigram distributions of `a` and `b`
    * (text in `textCol`): ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2,
    * summed over the union vocabulary; zero-count terms contribute 0.
    * Each token's combined contribution is one IEEE expression over
    * exact integer counts and the two broadcast totals, quantized
    * `floor(term·1e9)` → the sum is an exact long fold.
    *
    * Scale: two grouped token counts → one FULL OUTER vocab join → one
    * final aggregate; the corpus never shuffles (counts do). Output:
    * one row (vocab, tokens_a, tokens_b, jsd). */
  def jsDivergence(a: DataFrame, b: DataFrame,
                   textCol: String = "text"): DataFrame = {
    def cnt(df: DataFrame, out: String) =
      df.select(explode(tokens(col(textCol))).as("__t"))
        .groupBy("__t").agg(count(lit(1)).as(out))
    val ca = cnt(a, "__ca")
    val cb = cnt(b, "__cb")
    val ta = ca.agg(coalesce(sum("__ca"), lit(0L)).as("__ta"))
    val tb = cb.agg(coalesce(sum("__cb"), lit(0L)).as("__tb"))
    val joined = ca.join(cb, Seq("__t"), "full_outer")
      .select(col("__t"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
    val p = col("__ca").cast("double") / col("__ta").cast("double")
    val q = col("__cb").cast("double") / col("__tb").cast("double")
    val m = (p + q) / lit(2.0)
    val term =
      when(col("__ca") > 0, p * log(p / m)).otherwise(lit(0.0)) +
        when(col("__cb") > 0, q * log(q / m)).otherwise(lit(0.0))
    joined
      .select(col("__t"), floor(term * lit(1e9)).cast("long").as("__tq"),
        col("__ta"), col("__tb"))
      .agg(count(lit(1)).as("vocab"), first(col("__ta")).as("tokens_a"),
        first(col("__tb")).as("tokens_b"),
        (coalesce(sum("__tq"), lit(0L)).cast("double") / lit(2e9))
          .as("jsd"))
  }

  /** [[jsDivergence]] as DuckDB SQL over relations `ca` (two columns
    * t, ca) and `cb` (t, cb) of token counts — provide both via a WITH
    * prefix; emits bodies through `jsd` (vocab, tokens_a, tokens_b,
    * jsd). Same per-term expression tree, same nano-quantized fold. */
  def jsdOracleSql: String =
    s"""ta AS (SELECT CAST(COALESCE(sum(ca), 0) AS BIGINT) AS ta FROM ca),
       |tb AS (SELECT CAST(COALESCE(sum(cb), 0) AS BIGINT) AS tb FROM cb),
       |uni AS (SELECT COALESCE(ca.t, cb.t) AS t,
       |    COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
       |  FROM ca FULL OUTER JOIN cb ON ca.t = cb.t),
       |terms AS (SELECT
       |    CAST(floor((CASE WHEN ca > 0
       |        THEN (CAST(ca AS DOUBLE) / ta)
       |          * ln((CAST(ca AS DOUBLE) / ta)
       |            / ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2.0))
       |        ELSE 0.0 END
       |      + CASE WHEN cb > 0
       |        THEN (CAST(cb AS DOUBLE) / tb)
       |          * ln((CAST(cb AS DOUBLE) / tb)
       |            / ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb) / 2.0))
       |        ELSE 0.0 END) * 1e9) AS BIGINT) AS tq,
       |    ta, tb
       |  FROM uni, ta, tb),
       |jsd AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
       |    any_value(ta) AS tokens_a, any_value(tb) AS tokens_b,
       |    CAST(COALESCE(sum(tq), 0) AS DOUBLE) / 2e9 AS jsd
       |  FROM terms)""".stripMargin

  // --------------------------------------------------------------------
  // Gopher-style rule filter (Rae et al. 2021, "Scaling Language Models:
  // Methods, Analysis & Insights from Training Gopher", §A1.1 — public
  // heuristics). Unlike [[qualityScore]]'s additive band score, these are
  // the hard REJECTION rules a crawl pipeline applies before anything
  // model-based: each rule is a boolean, `gopher_pass` their conjunction.
  // --------------------------------------------------------------------

  /** The Gopher "must contain ≥2 of these" stopword rule set (public,
    * from the paper). Distinct-presence counted, not occurrences. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** `#`-marks and ellipses — the paper's "symbol" classes. One
    * left-to-right non-overlapping scan; identical match semantics in
    * Java regex and RE2. */
  val GopherSymbolRe = "#|\\.\\.\\."
  val BulletStartRe = "^[-*•]"
  val EllipsisEndRe = "(\\.\\.\\.|…)$"

  /** Per-document Gopher rule metrics + flags. All arithmetic is integer
    * counts and double/double division (IEEE-identical in the oracle);
    * thresholds compare the UNROUNDED values in both engines.
    *
    * Output: `(idCol, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, stop_hits, r_*` flag per rule`,
    * gopher_pass)`. Pure per-row expressions — zero shuffle at any
    * corpus size; at 100 TB this is a map-only scan that fuses with
    * whatever filter consumes `gopher_pass` (predicate reaches the
    * parquet scan). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nWords = size(toks)
    val mwl = meanWordLength(t)
    val symRatio = regexp_count(t, lit(GopherSymbolRe)).cast("double") /
      greatest(nWords, lit(1)).cast("double")
    // non-empty lines only: a trailing newline must not dilute fractions
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines,
      l => trim(l).rlike(BulletStartRe))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines,
      l => trim(l).rlike(EllipsisEndRe))).cast("double") / nLines
    val alphaFrac = size(filter(toks, w => w.rlike("[A-Za-z]")))
      .cast("double") / greatest(nWords, lit(1)).cast("double")
    val lowToks = tokens(lower(t))
    val stopHits = GopherStops.map(w =>
      when(array_contains(lowToks, w), 1).otherwise(0))
      .reduce(_ + _)
    val rWords = nWords.between(minWords, maxWords)
    val rMwl = mwl.between(3.0, 10.0)
    val rSym = symRatio <= 0.1
    val rBullet = bulletFrac <= 0.9
    val rEllipsis = ellipsisFrac <= 0.3
    val rAlpha = alphaFrac >= 0.8
    val rStops = stopHits >= 2
    docs.select(col(idCol), nWords.as("n_words"),
      mwl.as("mean_word_len"), symRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"), ellipsisFrac.as("ellipsis_frac"),
      alphaFrac.as("alpha_frac"), stopHits.as("stop_hits"),
      rWords.as("r_words"), rMwl.as("r_mwl"), rSym.as("r_symbol"),
      rBullet.as("r_bullet"), rEllipsis.as("r_ellipsis"),
      rAlpha.as("r_alpha"), rStops.as("r_stops"),
      (rWords && rMwl && rSym && rBullet && rEllipsis && rAlpha && rStops)
        .as("gopher_pass"))
  }

  /** [[gopherRules]] as DuckDB SQL select-list over a text reference —
    * identical tokenization, regex programs, and IEEE division order, so
    * every flag (and the unrounded metrics) hash-match. */
  def gopherOracleSqlExprs(t: String, minWords: Int = 50,
                           maxWords: Int = 100000): Seq[(String, String)] = {
    def d(v: String) = s"CAST($v AS DOUBLE)"
    val toks = s"list_filter(string_split_regex(trim($t), '\\s+'), w -> len(w) > 0)"
    val nW = s"len($toks)"
    val mwl = s"(${d(s"COALESCE(list_sum(list_transform($toks, w -> len(w))), 0)")} / ${d(s"greatest($nW, 1)")})"
    val sym = s"(${d(s"len(regexp_extract_all($t, '$GopherSymbolRe'))")} / ${d(s"greatest($nW, 1)")})"
    val lines = s"list_filter(string_split($t, chr(10)), l -> len(trim(l)) > 0)"
    val nL = d(s"greatest(len($lines), 1)")
    val bullet = s"(${d(s"len(list_filter($lines, l -> regexp_matches(trim(l), '$BulletStartRe')))")} / $nL)"
    val ellipsis = s"(${d(s"len(list_filter($lines, l -> regexp_matches(trim(l), '$EllipsisEndRe')))")} / $nL)"
    val alpha = s"(${d(s"len(list_filter($toks, w -> regexp_matches(w, '[A-Za-z]')))")} / ${d(s"greatest($nW, 1)")})"
    val lowToks = s"list_filter(string_split_regex(trim(lower($t)), '\\s+'), w -> len(w) > 0)"
    val stops = GopherStops.map(w =>
      s"(CASE WHEN list_contains($lowToks, '$w') THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    val rules = Seq(
      "r_words" -> s"($nW BETWEEN $minWords AND $maxWords)",
      "r_mwl" -> s"($mwl BETWEEN 3.0 AND 10.0)",
      "r_symbol" -> s"($sym <= 0.1)",
      "r_bullet" -> s"($bullet <= 0.9)",
      "r_ellipsis" -> s"($ellipsis <= 0.3)",
      "r_alpha" -> s"($alpha >= 0.8)",
      "r_stops" -> s"($stops >= 2)")
    Seq("n_words" -> nW, "mean_word_len" -> mwl, "symbol_ratio" -> sym,
      "bullet_frac" -> bullet, "ellipsis_frac" -> ellipsis,
      "alpha_frac" -> alpha, "stop_hits" -> stops) ++ rules ++
      Seq("gopher_pass" -> rules.map(_._2).mkString("(", " AND ", ")"))
  }

  // --------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  // arXiv:2302.03169, public). Select raw-corpus documents whose hashed
  // n-gram distribution looks like a TARGET corpus: fit bucket
  // multinomials over both, score each raw doc by the summed
  // log-probability ratio of its features, resample by weight.
  // --------------------------------------------------------------------

  /** Hashed feature id of one n-gram: 32-bit md5 prefix mod numBuckets.
    * md5 (not xxhash64) so the DuckDB oracle reproduces it exactly —
    * same pattern as [[Sampling.splitAssign]]; the 32-bit value is
    * non-negative, so `%` agrees across engines. */
  def dsirBucket(gram: Column, numBuckets: Int): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % numBuckets

  /** DSIR feature stream of a document: word unigrams + bigrams WITH
    * multiplicity (the paper's featurization), as one array column. */
  def dsirGrams(text: Column): Column =
    concat(Dedup.shinglesAll(text, 1), Dedup.shinglesAll(text, 2))

  /** Smoothed hashed-n-gram multinomial over a corpus: exactly
    * `numBuckets` rows `(__b, __lq)` with
    * lq = ⌊ln((c_b + a) / (total + a·B)) · 1e9⌋ as LONG — nano-quantized
    * once here so every downstream per-doc sum is integer arithmetic
    * (association-order-exact, partition-invariant, engine-exact).
    * Absent buckets get the smoothing floor via the dense bucket spine
    * (a `range(B)` left join — no special OOV case downstream).
    *
    * Scale: one explode + one B-bounded aggregate over the corpus; the
    * result is B rows — broadcastable by construction. */
  def dsirModel(docs: DataFrame, textCol: String, numBuckets: Int = 4096,
                smoothing: Double = 1.0): DataFrame = {
    require(numBuckets > 0 && smoothing > 0.0)
    val spark = docs.sparkSession
    val counts = docs.select(explode(dsirGrams(col(textCol))).as("__g"))
      .select(dsirBucket(col("__g"), numBuckets).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__tot"))
    spark.range(numBuckets).toDF("__b")
      .join(counts, Seq("__b"), "left")
      .crossJoin(broadcast(total))
      .select(col("__b"),
        floor(log(
          (coalesce(col("__c"), lit(0L)).cast("double") + lit(smoothing)) /
            (col("__tot").cast("double") + lit(smoothing * numBuckets)))
          * 1e9).cast("long").as("__lq"))
  }

  /** Per-document DSIR importance weight over a raw corpus:
    * log w(x) = Σ_b c_b(x) · (ln p̂_target[b] − ln p̂_raw[b]), computed as
    * an exact integer sum of nano-quantized per-bucket log ratios.
    * Output: (doc_id, n_feats, log_weight). Positive → the doc looks
    * more like the target than like the raw corpus.
    *
    * Plan shape: both models reduce to B broadcast rows; the corpus side
    * is one explode + one (doc, bucket) aggregate + one broadcast join +
    * one per-doc aggregate — two key-bounded shuffles, nothing
    * corpus-quadratic, no windows. */
  def dsirWeights(raw: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String,
                  numBuckets: Int = 4096,
                  smoothing: Double = 1.0): DataFrame = {
    // NOT spread: A/B'd in the r14 round (q_dsir 2.17 → 3.16 s with the
    // raw projection spread and shared by model + scoring) — the two
    // B-bounded model aggregates and their broadcasts dominate; the
    // fused gram kernel is cheaper than the extra exchange + stages
    val lt = dsirModel(target, targetTextCol, numBuckets, smoothing)
      .withColumnRenamed("__lq", "__lt")
    val lr = dsirModel(raw.select(col(textCol)), textCol, numBuckets, smoothing)
      .withColumnRenamed("__lq", "__lr")
    val model = broadcast(lt.join(lr, Seq("__b")))
    raw.select(col(idCol).as("doc_id"), explode(dsirGrams(col(textCol))).as("__g"))
      .select(col("doc_id"), dsirBucket(col("__g"), numBuckets).as("__b"))
      .groupBy("doc_id", "__b").agg(count(lit(1)).as("__c"))
      .join(model, Seq("__b"))
      .groupBy("doc_id")
      .agg(sum(col("__c")).as("n_feats"),
        sum(col("__c") * (col("__lt") - col("__lr"))).as("__s"))
      .select(col("doc_id"), col("n_feats"),
        (col("__s").cast("double") / 1e9).as("log_weight"))
  }

  /** Gumbel-top-k importance RESAMPLE over [[dsirWeights]] output: keep
    * the k docs with the largest log w(x) + Gumbel(0,1), which samples
    * without replacement with probability ∝ w(x) (the paper's sampling
    * step). The Gumbel draw is md5-deterministic from the doc id — the
    * same engine-reproducible uniform used by [[Sampling.weighted]]'s
    * A-ES keys, so the selection is stable across runs, engines and
    * cluster sizes. Plans as TakeOrderedAndProject (per-partition
    * heaps of k, no global sort). */
  def dsirResample(weights: DataFrame, idCol: String,
                   logWeightCol: String, k: Int,
                   seed: String = "dsir"): DataFrame = {
    val u = (conv(substring(md5(concat(col(idCol).cast("string"), lit(seed))),
      1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    val gumbel = -log(-log(u))
    weights.withColumn("__key", col(logWeightCol) + gumbel)
      .orderBy(desc("__key"), col(idCol))
      .limit(k)
      .drop("__key")
  }

  // --------------------------------------------------------------------
  // Unicode script detection — the writing-system signal langId's
  // stopword profiles cannot see (zh vs ja vs ko, ru vs uk, mixed-script
  // spam). Ranges are literal BMP code-point classes shared VERBATIM
  // with the oracle, so both engines count the same characters.
  // --------------------------------------------------------------------

  /** (script name, regex char class) in tie-break priority order. Literal
    * BMP ranges (no \p{} — Java and RE2 spell script properties
    * differently and may disagree across Unicode versions). */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\u00C0-\u024F]",
    "cyrillic" -> "[\u0400-\u04FF]",
    "greek" -> "[\u0370-\u03FF]",
    "arabic" -> "[\u0600-\u06FF]",
    "hebrew" -> "[\u0590-\u05FF]",
    "devanagari" -> "[\u0900-\u097F]",
    "han" -> "[\u4E00-\u9FFF]",
    "kana" -> "[\u3040-\u30FF]",
    "hangul" -> "[\uAC00-\uD7AF]")

  /** Per-script character counts as named columns (one regexp_count scan
    * per script \u2014 nine codegen'd counters, zero shuffle). */
  def scriptCounts(text: Column): Seq[(String, Column)] =
    ScriptRanges.map { case (n, re) => n -> regexp_count(text, lit(re)) }

  /** Dominant script of the text: the first script (in [[ScriptRanges]]
    * order) whose count equals the maximum, `unknown` when no scripted
    * character occurs. Deterministic tie-break by construction. */
  def dominantScript(text: Column): Column = {
    val counts = scriptCounts(text)
    val mx = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("unknown")) { case ((n, c), acc) =>
      when(mx > 0 && c === mx, n).otherwise(acc)
    }
  }

  /** Fraction of SCRIPTED characters belonging to the dominant script \u2014
    * the mixed-script-spam signal (near 1.0 for clean monolingual text). */
  def dominantScriptRatio(text: Column): Column = {
    val counts = scriptCounts(text).map(_._2)
    val total = counts.reduce(_ + _)
    greatest(counts: _*).cast("double") /
      greatest(total, lit(1)).cast("double")
  }

  /** [[dominantScript]] + [[dominantScriptRatio]] as DuckDB SQL exprs
    * over a text reference: same ranges, same priority, same division. */
  def scriptOracleSqlExprs(t: String): (String, String) = {
    val counts = ScriptRanges.map { case (n, re) =>
      n -> s"len(regexp_extract_all($t, '$re'))"
    }
    val mx = counts.map(_._2).mkString("greatest(", ", ", ")")
    val dominant = counts.foldRight("'unknown'") { case ((n, c), acc) =>
      s"(CASE WHEN $mx > 0 AND $c = $mx THEN '$n' ELSE $acc END)"
    }
    val total = counts.map(_._2).mkString("(", " + ", ")")
    val ratio = s"(CAST($mx AS DOUBLE) / CAST(greatest($total, 1) AS DOUBLE))"
    (dominant, ratio)
  }

  // ---- BPE vocabulary induction (tokenizer training's inner loop) ----

  /** Distinct-word symbol table for BPE training: one row per distinct
    * lower-cased whitespace token with its corpus frequency and its
    * symbol sequence (initially single characters). THE scale move of
    * BPE training is exactly this aggregate: a 100 TB corpus collapses
    * to a vocabulary-sized table (millions of rows, not billions), and
    * every merge round after it runs on the small table only. */
  def initBpeWords(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .where(length(col("w")) >= 2)
      .withColumn("syms", split(col("w"), ""))

  /** Adjacent-symbol pair frequencies over a (syms, freq) word table:
    * the quantity BPE maximizes each round. Pairs explode per word
    * (bounded by word length); the aggregate shuffles one row per
    * distinct pair — tiny next to the corpus. */
  def bpePairStats(words: DataFrame): DataFrame =
    words.select(col("freq"),
        explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS a, syms[i + 1] AS b))"))
          .as("p"))
      .select(concat(col("p.a"), col("p.b")).as("pair"), col("freq"))
      .groupBy("pair").agg(org.apache.spark.sql.functions.sum("freq").as("cnt"))

  /** One BPE merge: rewrite every word's symbol sequence replacing each
    * adjacent (a, b) with the merged symbol a+b (leftmost-first,
    * non-overlapping — the standard BPE apply order). A narrow
    * projection over the word table via an array fold. */
  def applyBpeMerge(words: DataFrame, a: String, b: String): DataFrame = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val (qa, qb) = (esc(a), esc(b))
    words.withColumn("syms",
      expr(s"""aggregate(syms, CAST(array() AS ARRAY<STRING>),
        |  (acc, x) -> CASE WHEN size(acc) > 0
        |      AND element_at(acc, -1) = '$qa' AND x = '$qb'
        |    THEN concat(slice(acc, 1, size(acc) - 1), array('$qa' || '$qb'))
        |    ELSE concat(acc, array(x)) END)""".stripMargin))
  }

  /** Top-k candidate merges straight from a corpus: [[initBpeWords]] →
    * [[bpePairStats]] → deterministic top-k (count desc, pair asc).
    * Looping: apply the winner with [[applyBpeMerge]] and re-count —
    * every round touches only the vocabulary table. */
  def bpeTopPairs(docs: DataFrame, textCol: String, k: Int): DataFrame =
    bpePairStats(initBpeWords(docs, textCol))
      .orderBy(desc("cnt"), col("pair")).limit(k)

  // ---- BPE ENCODING (applying a learned merge list) ----------------------
  //
  // Semantics: merges apply SEQUENTIALLY in list order (the order they
  // were learned), each pass replacing left-to-right non-overlapping
  // occurrences — the standard "apply merges in training order" encoder.
  // Representation: text is lower-cased, '|' stripped (it is the word-
  // boundary marker), words char-spaced (" h e l l o ") and joined with
  // "| ", so every symbol is space-delimited and a merge " a b " → " ab "
  // can never cross a word boundary. Both the Spark form and the DuckDB
  // oracle form are generated from the same merge list, so the two
  // engines compute the identical function by construction.

  private def bpeRep(text: Column): Column = {
    val ws = filter(split(regexp_replace(lower(text), "\\|", ""), "\\s+"),
      w => length(w) > 0)
    concat(lit(" "), array_join(transform(ws,
      w => regexp_replace(w, "(.)", "$1 ")), "| "))
  }

  /** Encode `text` with a learned BPE merge list → array of subword
    * tokens. Shuffle-free single Project of chained literal `replace`
    * calls (codegen'd); cost is O(len · merges) char scans per row, so
    * this is the right form for MODEST merge lists (filters, probes,
    * oracle queries). For production-sized vocabularies over a corpus use
    * [[bpeEncodeViaVocab]], which runs this only once per DISTINCT word. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val rep = merges.foldLeft(bpeRep(text)) { case (r, (a, b)) =>
      replace(r, lit(s" $a $b "), lit(s" $a$b "))
    }
    filter(split(rep, " "), s => s =!= "" && s =!= "|")
  }

  /** [[bpeEncode]] rendered as DuckDB SQL over a text column reference —
    * the same representation, the same replace chain, the same order. */
  def bpeEncodeOracleSqlExpr(textRef: String,
                             merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val rep0 = s"' ' || array_to_string(list_transform(" +
      s"list_filter(string_split_regex(replace(lower($textRef), '|', ''), '\\s+'), w -> len(w) > 0), " +
      s"w -> regexp_replace(w, '(.)', '\\1 ', 'g')), '| ')"
    val rep = merges.foldLeft(rep0) { case (r, (a, b)) =>
      s"replace($r, ' ${esc(a)} ${esc(b)} ', ' ${esc(a)}${esc(b)} ')"
    }
    s"list_filter(string_split($rep, ' '), s -> s <> '' AND s <> '|')"
  }

  /** Corpus-scale BPE encoding: the merge-replace chain runs once per
    * DISTINCT word (the [[initBpeWords]] scale move — a 100 TB corpus
    * collapses to a vocabulary-sized table), then the word→tokens map
    * joins back onto position-exploded docs and reassembles in order.
    * Output: (idCol, tokens ARRAY<STRING>) — identical to applying
    * [[bpeEncode]] per document (spec-asserted). Docs with no words keep
    * an empty array. The join is left to AQE: the distinct-word side is
    * vocabulary-sized and broadcasts when it fits. */
  def bpeEncodeViaVocab(docs: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    val base = docs.select(col(idCol).as("__id"),
      filter(split(regexp_replace(lower(col(textCol)), "\\|", ""), "\\s+"),
        w => length(w) > 0).as("__ws"))
    val vocab = base.select(explode(col("__ws")).as("__w")).distinct()
      .withColumn("__toks", bpeEncode(col("__w"), merges))
    val ordered = base.select(col("__id"), posexplode(col("__ws")))
      .toDF("__id", "__pos", "__w")
      .join(vocab, "__w")
      .groupBy("__id")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("__pos"), col("__toks")))),
        p => p.getField("__toks"))).as("__tokens"))
    base.select(col("__id")).distinct()
      .join(ordered, Seq("__id"), "left_outer")
      .select(col("__id").as(idCol),
        coalesce(col("__tokens"), typedlit(Seq.empty[String])).as("tokens"))
  }

  /** Corpus-level PMI collocations (Church & Hanks 1990): adjacent token
    * pairs scored by pointwise mutual information
    * `ln( (c₂/B) / ((c₁(w₁)/N)·(c₁(w₂)/N)) )` where c₂ is the bigram
    * count, c₁ the unigram counts, B total bigram tokens, N total
    * unigram tokens. The tokenizer detector a curation pipeline runs to
    * find units that should never be split ("new york", boilerplate
    * idioms) and to seed phrase vocabularies; `minCount` kills the
    * low-frequency PMI explosion (hapax pairs otherwise dominate).
    *
    * Determinism: all counts are exact longs; the score is ONE double
    * expression over those longs — `ln((c2·N·N)/(B·c1a·c1b))` with this
    * exact association order mirrored in the oracle — rounded to 6
    * decimals. Scale shape: two count aggregates (unigrams, bigrams —
    * both vocabulary-sized, shuffles keyed on token/pair), two scalar
    * totals on one-row broadcasts, and two vocabulary-sized joins onto
    * the bigram relation. Doc bigrams are the same narrow zip_with as
    * [[stupidBackoffScore]] — no positional self-join, no per-doc
    * shuffle at all.
    *
    * @return (w1, w2, pair_cnt, pmi) for pairs with pair_cnt ≥ minCount.
    */
  /** Corpus-wide adjacent-token pair counts — the raw co-occurrence
    * relation behind [[pmiBigrams]] (scored) and TextRank (fed to
    * [[GraphOps.pageRankNano]] as the word-graph edge list). One narrow
    * zip_with + explode + a pair-keyed count aggregate; no per-doc
    * shuffle. */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    Spread.ifSmall(docs.select(col(textCol)))
    .select(tokens(col(textCol)).as("__ts"))
    .where(size(col("__ts")) >= 2)
    .select(explode(expr(
      "zip_with(slice(__ts, 1, size(__ts) - 1), " +
        "slice(__ts, 2, size(__ts) - 1), " +
        "(a, b) -> struct(a AS __w1, b AS __w2))")).as("__bg"))
    .select(col("__bg.__w1").as("w1"), col("__bg.__w2").as("w2"))
    .groupBy("w1", "w2").agg(count(lit(1)).as("pair_cnt"))

  def pmiBigrams(docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    val uni = docs
      .select(explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c1"))
    val n1 = uni.agg(sum("__c1").cast("double").as("__n"))
    val big = bigramCounts(docs, textCol)
    val nb = big.agg(sum("pair_cnt").cast("double").as("__b"))
    big.where(col("pair_cnt") >= minCount)
      .join(uni.select(col("__t").as("w1"), col("__c1").as("__c1a")), "w1")
      .join(uni.select(col("__t").as("w2"), col("__c1").as("__c1b")), "w2")
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("pair_cnt"),
        round(log(
          (col("pair_cnt").cast("double") * col("__n") * col("__n")) /
            (col("__b") * col("__c1a").cast("double") * col("__c1b").cast("double"))),
          6).as("pmi"))
  }

  /** DuckDB oracle twin of [[pmiBigrams]] over a `(text)` relation named
    * `base`: identical tokenization, identical double expression tree
    * `(c2·N·N)/(B·c1a·c1b)` then `ln`, rounded to 6. Emits WITH-clause
    * bodies through `scored`; caller selects/orders from `scored`. */
  def pmiBigramsOracleCtes(minCount: Long): String =
    s"""ts AS (SELECT row_number() OVER () AS did,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |                w -> len(w) > 0) AS ts FROM base),
       |tok AS (SELECT did, generate_subscripts(ts, 1) AS pos, unnest(ts) AS t
       |  FROM ts),
       |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM tok GROUP BY t),
       |n1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
       |big AS (SELECT a.t AS w1, b.t AS w2, CAST(count(*) AS BIGINT) AS pair_cnt
       |  FROM tok a JOIN tok b ON a.did = b.did AND b.pos = a.pos + 1
       |  GROUP BY a.t, b.t),
       |nb AS (SELECT CAST(sum(pair_cnt) AS DOUBLE) AS b FROM big),
       |scored AS (SELECT w1, w2, pair_cnt,
       |    round(ln((CAST(pair_cnt AS DOUBLE) * n1.n * n1.n)
       |      / (nb.b * CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE))), 6) AS pmi
       |  FROM big
       |  JOIN uni ua ON ua.t = big.w1
       |  JOIN uni ub ON ub.t = big.w2
       |  CROSS JOIN n1 CROSS JOIN nb
       |  WHERE pair_cnt >= $minCount)""".stripMargin
  /** Flesch reading-ease readability per document — the classic
    * prose-difficulty quality signal next to [[gopherQuality]]'s rule
    * scores. Deterministic proxies keep it a MAP-ONLY codegen'd scan
    * with an exact cross-engine mirror: sentences = [.!?]+ run count
    * (min 1), syllables = vowel-group count (a group never spans
    * whitespace, so whole-text counting ≡ per-word counting), words =
    * whitespace tokens. flesch = 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/words), the identical IEEE sequence both
    * engines; zero-word docs drop (the [[hashedTfVectors]] rule).
    * Output: (idCol, words, sentences, syllables, flesch). */
  def readability(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val wordsC = tokenCount(col(textCol)).cast("long")
    val sentC = greatest(regexp_count(col(textCol), lit("[.!?]+")),
      lit(1L)).cast("long")
    val syllC = regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
      .cast("long")
    docs.select(col(idCol), wordsC.as("words"), sentC.as("sentences"),
        syllC.as("syllables"))
      .where(col("words") > 0)
      .select(col(idCol), col("words"), col("sentences"), col("syllables"),
        ((lit(206.835) -
          lit(1.015) * (col("words").cast("double") /
            col("sentences").cast("double"))) -
          lit(84.6) * (col("syllables").cast("double") /
            col("words").cast("double"))).as("flesch"))
  }

  /** [[readability]]'s row expressions as DuckDB SQL (SELECT body over
    * a docs relation with `$idRef` and `$textRef`); wrap and round the
    * flesch column on both sides. */
  def readabilityOracleSql(idRef: String, textRef: String,
                           relation: String): String = {
    val words = s"CAST(len(list_filter(string_split_regex(trim($textRef), " +
      s"'\\s+'), w -> len(w) > 0)) AS BIGINT)"
    val sents = s"CAST(greatest(len(regexp_extract_all($textRef, " +
      s"'[.!?]+')), 1) AS BIGINT)"
    val sylls = s"CAST(len(regexp_extract_all(lower($textRef), " +
      s"'[aeiouy]+')) AS BIGINT)"
    s"""SELECT $idRef, words, sentences, syllables,
       |  ((206.835 - 1.015 * (CAST(words AS DOUBLE)
       |      / CAST(sentences AS DOUBLE)))
       |    - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)))
       |    AS flesch
       |FROM (SELECT $idRef, $words AS words, $sents AS sentences,
       |        $sylls AS syllables
       |      FROM $relation)
       |WHERE words > 0""".stripMargin
  }

  /** Tokenizer fertility per language — chars/token and bytes/char by
    * `langCol`, the multilingual budget planner's signal (a fixed token
    * budget buys different text volumes per script; fertility decides
    * per-language sampling weights). ONE grouped integer aggregate
    * (counts/lengths are exact longs; the two ratios divide once at the
    * end). Output: (langCol, n_docs, tokens, chars, bytes,
    * chars_per_token, bytes_per_char). */
  def fertilityByLang(docs: DataFrame, langCol: String,
                      textCol: String): DataFrame =
    docs.select(col(langCol),
        tokenCount(col(textCol)).cast("long").as("__tok"),
        length(col(textCol)).cast("long").as("__ch"),
        octet_length(col(textCol)).cast("long").as("__by"))
      .groupBy(langCol)
      .agg(count(lit(1)).as("n_docs"), sum("__tok").as("tokens"),
        sum("__ch").as("chars"), sum("__by").as("bytes"))
      .select(col(langCol), col("n_docs"), col("tokens"), col("chars"),
        col("bytes"),
        (col("chars").cast("double") /
          greatest(col("tokens"), lit(1L)).cast("double"))
          .as("chars_per_token"),
        (col("bytes").cast("double") /
          greatest(col("chars"), lit(1L)).cast("double"))
          .as("bytes_per_char"))

  /** Word n-gram diversity per group — distinct vs total n-grams and
    * their type-token ratio, the repetitiveness / templatedness signal
    * that separates boilerplate-heavy sources from organic prose (a low
    * TTR source contributes less novelty per token than its volume
    * suggests). One explode to n-gram rows (bounded: ≤ tokens per doc)
    * + one grouped aggregate with an exact distinct; at 100 TB set
    * `approxRsd` to swap the distinct for HLL (`approx_count_distinct`
    * at that relative standard deviation) — fixed-size mergeable
    * partials instead of a value set, the plan keeps one exchange
    * either way (the q_ngram_diversity_approx twin pins the tolerance
    * claim). Output: (groupCol, n_ngrams, n_distinct, ttr). */
  def ngramDiversity(docs: DataFrame, groupCol: String, textCol: String,
                     n: Int, approxRsd: Option[Double] = None): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1,8], got $n")
    val distinctAgg = approxRsd match {
      case Some(rsd) => approx_count_distinct(col("__g"), rsd)
      case None => countDistinct(col("__g"))
    }
    docs.select(col(groupCol), tokens(col(textCol)).as("__ts"))
      .where(size(col("__ts")) >= n)
      .select(col(groupCol), explode(expr(
        s"transform(sequence(1, size(__ts) - ${n - 1}), " +
          s"i -> array_join(slice(__ts, i, $n), ' '))")).as("__g"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_ngrams"),
        distinctAgg.as("n_distinct"))
      .select(col(groupCol), col("n_ngrams"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_ngrams").cast("double"))
          .as("ttr"))
  }

  /** [[ngramDiversity]] as DuckDB SQL (same tokenization, slicing and
    * joining; ratios divide the same exact longs once). */
  def ngramDiversityOracleSql(groupRef: String, textRef: String,
                              relation: String, n: Int): String =
    s"""SELECT $groupRef, CAST(count(*) AS BIGINT) AS n_ngrams,
       |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       |  CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS ttr
       |FROM (
       |  SELECT $groupRef,
       |    array_to_string(list_slice(ts, i, i + ${n - 1}), ' ') AS g
       |  FROM (SELECT $groupRef, ts,
       |          unnest(generate_series(1, len(ts) - ${n - 1})) AS i
       |        FROM (SELECT $groupRef,
       |                list_filter(string_split_regex(trim($textRef),
       |                  '\\s+'), w -> len(w) > 0) AS ts
       |              FROM $relation)
       |        WHERE len(ts) >= $n))
       |GROUP BY $groupRef""".stripMargin

}

/** Language-ID profiles shared between the Spark expression and the DuckDB
  * oracle so both engines compute the identical function. */
object LangId {
  val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein", "mit", "den", "von"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"),
    "es" -> Seq("el", "la", "que", "de", "los", "una", "por", "con", "para", "las"))

  def expr(text: Column): Column = {
    val cjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]"))
    // ONE lower+tokenize pass scoring all four profiles — the per-list
    // HOF filters this replaces re-split the text per language,
    // interpreted (see graft.functions.StopwordHits)
    val hitsArr = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.StopwordHits(
        org.apache.spark.sql.GraftSqlBridge.expression(text),
        profiles.map(_._2)))
    val Seq(en, de, fr, es) = profiles.indices.map(i => hitsArr.getItem(i))
    when(cjk * 3 > length(text), "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Whole-table language ID via explode + broadcast wordlist join +
    * pivoted hit counts. Same classification function as [[expr]] but the
    * stopword matching is a codegen'd hash join instead of an interpreted
    * per-row lambda filter — the CPU-lean form for full-corpus scans; the
    * [[expr]] form stays shuffle-free for single-pass pipelines. Output:
    * (idCol, lang). */
  def table(df: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{broadcast, coalesce, explode, first}
    val words = spark.createDataFrame(
      profiles.flatMap { case (l, ws) => ws.map(w => (w, l)) })
      .toDF("__w", "__lang")
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__text"))
    val cjkDecided = base.select(col("__id"),
      (regexp_count(col("__text"), lit("[\\x{4e00}-\\x{9fff}]")) * 3 >
        length(col("__text"))).as("__is_zh"))
    val toks = base.select(col("__id"),
      explode(filter(split(lower(col("__text")), "\\W+"), t => length(t) > 0)).as("__w"))
    val hits = toks.join(broadcast(words), Seq("__w"))
      .groupBy("__id").pivot("__lang", profiles.map(_._1)).count()
      .na.fill(0L)
    val joined = cjkDecided.join(hits, Seq("__id"), "left_outer")
      .na.fill(0L, profiles.map(_._1))
    val Seq(en, de, fr, es) = profiles.map(p => col(p._1))
    joined.select(col("__id").as(idCol),
      when(col("__is_zh"), "zh")
        .when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es").as("lang"))
  }

  /** The same function as [[expr]], rendered as DuckDB SQL over a text
    * column reference. */
  def oracleSqlExpr(textRef: String): String = {
    def h(words: Seq[String]): String = {
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(list_filter(string_split_regex(lower($textRef), '\\W+'), t -> len(t) > 0), t -> list_contains($list, t)))"
    }
    val Seq(en, de, fr, es) = profiles.map(p => h(p._2))
    s"""CASE WHEN len(regexp_extract_all($textRef, '[\\x{4e00}-\\x{9fff}]')) * 3 > len($textRef) THEN 'zh'
       | WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       | WHEN $de >= $fr AND $de >= $es THEN 'de'
       | WHEN $fr >= $es THEN 'fr'
       | ELSE 'es' END""".stripMargin
  }



}
