package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines. Every metric is
 * built from codegen'd built-in functions (no UDFs) and is expressible in
 * portable ANSI-ish SQL so the DuckDB oracle can replay it exactly.
 */
object TextMetrics {

  def wsTokenCount(text: Column): Column = size(split(text, " ", -1)).cast("long")

  def reTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))).cast("long")

  /** Whitespace + word-regex token counts. */
  def tokenCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      wsTokenCount(col(textCol)).as("n_ws_tokens"),
      reTokenCount(col(textCol)).as("n_re_tokens"))

  /**
   * Per-language tokenizer fertility — the "which languages does this
   * tokenizer under-serve" readout every multilingual pretraining mix
   * needs BEFORE committing a token budget (Ács 2019; Rust et al. 2021):
   * fertility = subword tokens per whitespace word. A language at
   * fertility 1.2 buys ~3x more text per token than one at 3.5, so a
   * token-denominated mix silently re-weights the corpus unless this
   * table is consulted. Also reports bytes/token and chars/token (the
   * compression view — what a byte-budgeted context window actually
   * holds per language). Token counts come from the exact [[bpeMerges]]
   * encode fold (swap in a learned table via the custom-merges
   * [[bpeTokenCount]] upstream); words are whitespace tokens (empties
   * dropped) — the same pre-tokenization the encoder uses.
   *
   * Shape: one narrow per-row projection (the BPE fold is per-row
   * lambda built-ins) + ONE map-side-combined groupBy on the language
   * key — languages-sized output, no window, no join.
   * Output per language: lang, n_docs, n_words, n_bpe_tokens, n_chars,
   * n_bytes, fertility (4dp), bytes_per_token (4dp),
   * chars_per_token (4dp).
   */
  def tokenFertility(docs: DataFrame, textCol: String, idCol: String,
      langCol: String): DataFrame = {
    val text = col(textCol)
    val words = size(filter(split(text, "\\s+"), w => w =!= ""))
      .cast("long")
    docs
      .filter(col(langCol).isNotNull && text.isNotNull)
      .select(col(langCol).cast("string").as("lang"),
        words.as("_w"), bpeTokenCount(text).as("_t"),
        length(text).cast("long").as("_c"),
        octet_length(text).cast("long").as("_b"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("_w").as("n_words"), sum("_t").as("n_bpe_tokens"),
        sum("_c").as("n_chars"), sum("_b").as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"), col("n_bytes"),
        round(col("n_bpe_tokens") / greatest(col("n_words"), lit(1L))
          .cast("double"), 4).as("fertility"),
        round(col("n_bytes") / greatest(col("n_bpe_tokens"), lit(1L))
          .cast("double"), 4).as("bytes_per_token"),
        round(col("n_chars") / greatest(col("n_bpe_tokens"), lit(1L))
          .cast("double"), 4).as("chars_per_token"))
  }

  /**
   * Corpus encoding audit — the crawl-hygiene scan for the damage that
   * precedes every text statistic (a mojibake corpus poisons n-grams,
   * language ID, dedup shingles, and the tokenizer itself): one row
   * counting documents that contain (a) U+FFFD replacement characters
   * (a decoder already gave up upstream), (b) C0 control characters
   * other than tab/newline/CR (binary spill into text columns),
   * (c) zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — invisible dedup and
   * tokenizer poison), (d) the classic UTF-8-read-as-Latin-1 mojibake
   * signatures ("â€…", "Ã" + a Latin-1-range continuation byte).
   * Flags count DOCUMENTS (a containment test per pattern — robust and
   * cheap), not occurrences. One narrow scan + one 1-row aggregate.
   * Output: n_docs, n_replacement, n_control, n_zero_width, n_mojibake,
   * pct_clean (4dp — share of docs hitting none of the four).
   */
  def encodingAudit(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val text = col(textCol)
    val repl = text.rlike("�")
    val ctrl = text.rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    val zw = text.rlike("[\\u200B\\u200C\\u200D\\uFEFF]")
    val moji = text.rlike("(â€|Ã[\\x80-\\xBF])")
    def cnt(c: Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    docs.filter(text.isNotNull)
      .agg(count(lit(1)).as("n_docs"),
        cnt(repl).as("n_replacement"),
        cnt(ctrl).as("n_control"),
        cnt(zw).as("n_zero_width"),
        cnt(moji).as("n_mojibake"),
        cnt(!(repl || ctrl || zw || moji)).as("_clean"))
      .select(col("n_docs"), col("n_replacement"), col("n_control"),
        col("n_zero_width"), col("n_mojibake"),
        round(col("_clean") / greatest(col("n_docs"), lit(1L))
          .cast("double"), 4).as("pct_clean"))
  }

  /**
   * Byte-pair-encoding merge table, in RANK order — a small embedded
   * English merge list standing in for a production merges file (GPT-2's
   * `vocab.bpe` et al. load through the same fold; the container ships no
   * tokenizer assets). Later ranks may reference symbols earlier ranks
   * created (`f + or → for` needs `o + r → or` first) — exactly how
   * trained merge tables compose. Shared with the oracle-SQL generator
   * so both engines apply the identical table in the identical order.
   */
  val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "e" -> "d", "n" -> "d", "an" -> "d",
    "in" -> "g", "e" -> "n", "o" -> "r", "e" -> "s", "a" -> "t",
    "t" -> "o", "o" -> "u", "i" -> "t", "i" -> "s", "a" -> "r",
    "a" -> "l", "s" -> "t", "o" -> "f", "e" -> "l", "l" -> "e",
    "m" -> "e", "s" -> "e", "l" -> "l", "c" -> "h", "w" -> "h",
    "v" -> "e", "c" -> "o", "r" -> "o", "l" -> "i", "r" -> "a",
    "u" -> "s", "e" -> "a", "h" -> "a", "s" -> "i", "m" -> "a",
    "t" -> "i", "ti" -> "on", "en" -> "t", "er" -> "s", "es" -> "t",
    "u" -> "r", "c" -> "e", "o" -> "w", "p" -> "e", "b" -> "e",
    "w" -> "e", "f" -> "or", "h" -> "i", "n" -> "o", "d" -> "e",
    "u" -> "t")

  /**
   * BPE token count of one whitespace word, as a Column expression.
   *
   * The encode loop is the published BPE algorithm (Sennrich et al.
   * 2016): start from the character sequence, apply each merge in rank
   * order to every non-overlapping occurrence, leftmost first. One
   * string `replace` per merge IS that step under this representation:
   * a word is rendered `" c1  c2  c3 "` — every symbol wrapped in
   * single spaces, so DOUBLE spaces separate adjacent symbols — and
   * merge (a,b) rewrites `" a  b "` to `" ab "`. The wrapping spaces
   * make cross-symbol false matches impossible (a pattern only ever
   * matches a whole symbol: symbol interiors never contain a space,
   * because words come from a whitespace split) while adjacent
   * occurrences still chain, since neighbors abut on the DOUBLE
   * separator and each match consumes only one space of it per side.
   * Token count = symbols left = size of the split on the double space.
   * DuckDB's `replace` has the same leftmost non-overlapping semantics,
   * so the oracle nests the identical 56 calls (see the gate SQL).
   */
  private def bpeWordCount(
      w: Column, merges: Seq[(String, String)] = bpeMerges): Column = {
    val prepped = concat(lit(" "),
      rtrim(regexp_replace(w, "(.)", "$1  ")), lit(" "))
    val merged = merges.foldLeft(prepped) { case (acc, (a, b)) =>
      replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
    }
    size(split(merged, "  "))
  }

  /** Exact BPE token count of `text` under [[bpeMerges]]: whitespace
   * pre-tokenization (empties dropped), then the per-word encode fold.
   * Per-row lambda built-ins only — narrow, zero shuffle. */
  def bpeTokenCount(text: Column): Column = bpeTokenCount(text, bpeMerges)

  /** Same count under a CUSTOM merge table — typically one learned by
   * [[trainBpe]], closing the train-then-budget loop. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(
      filter(split(text, "\\s+"), w => w =!= ""),
      lit(0L),
      (acc, w) => acc + bpeWordCount(w, merges).cast("long"))

  /**
   * The GPT-2 byte→unicode table (Radford et al. 2019, `bytes_to_unicode`
   * in the published encoder): printable bytes 33–126, 161–172 and
   * 174–255 map to their own codepoints; the remaining 68 bytes
   * (controls, space, DEL, 128–160, soft hyphen) map in ascending order
   * to codepoints 256, 257, … so every byte gets a VISIBLE single-char
   * symbol and no symbol is whitespace — the property the double-space
   * encode representation needs. Deterministic, so both engines carry
   * the identical 256-entry literal.
   */
  val byteToUnicode: IndexedSeq[String] = {
    val self = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var next = 256
    (0 until 256).map { b =>
      val cp = if (self(b)) b else { val c = next; next += 1; c }
      new String(Character.toChars(cp))
    }
  }

  /**
   * Embedded BYTE-level merge table — [[bpeMerges]] verbatim (printable
   * ASCII bytes are their own symbols, so the word-level English merges
   * carry over unchanged) plus multi-byte UTF-8 merges in the GPT-2
   * lineage's own symbol alphabet: 'é' (C3 A9 → "Ã©"), 'ü' (C3 BC →
   * "Ã¼"), and the em dash (E2 80 94 → "âĢ" then "âĢĶ" — the famous
   * GPT-2 token). Production merge files (tiktoken/GPT-2 `vocab.bpe`)
   * load through the same fold; this list stands in because the
   * container ships no tokenizer assets.
   */
  val bpeByteMerges: Seq[(String, String)] = bpeMerges ++ Seq(
    "Ã" -> "©", "Ã" -> "¼", "â" -> "Ģ", "âĢ" -> "Ķ")

  /** Hex byte pair → mapped symbol, all 256 entries as one foldable map
   * literal (uppercase hex — both Spark's and DuckDB's `hex` emit
   * uppercase, so the oracle indexes the same keys). */
  private lazy val byteSymMap: Column =
    typedLit((0 until 256).map(b => f"$b%02X" -> byteToUnicode(b)).toMap)

  /** A word's UTF-8 bytes as mapped symbols: hex-render the encoded
   * bytes, split into pairs, look each pair up in the 256-entry table.
   * Built-ins only — `hex(encode(...))` + one regexp + one transform. */
  private def byteSymbols(w: Column): Column =
    transform(
      filter(split(regexp_replace(hex(encode(w, "UTF-8")), "(..)", "$1,"),
        ","), p => p =!= ""),
      p => element_at(byteSymMap, p))

  /** BPE token count of one word at the BYTE level: the identical
   * double-space encode fold as [[bpeWordCount]], over byte symbols
   * instead of characters — an ASCII-only word therefore counts the
   * same under both (bytes == chars and the merge tables agree on
   * ASCII), while multi-byte UTF-8 starts from one symbol per BYTE
   * (the 256-symbol base alphabet: no out-of-vocabulary character can
   * exist, the property byte-level tokenizers buy). */
  private def bpeByteWordCount(w: Column,
      merges: Seq[(String, String)]): Column = {
    val prepped = concat(lit(" "),
      array_join(byteSymbols(w), "  "), lit(" "))
    val merged = merges.foldLeft(prepped) { case (acc, (a, b)) =>
      replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
    }
    size(split(merged, "  "))
  }

  /** Exact BYTE-level BPE token count of `text` under [[bpeByteMerges]]
   * — the parity mode for production token budgets (GPT-2/tiktoken
   * lineage): whitespace pre-tokenization (unchanged — the whitespace
   * form stays the default elsewhere), then the per-word byte-level
   * encode fold. Per-row built-ins only — narrow, zero shuffle. */
  def bpeByteTokenCount(text: Column): Column =
    bpeByteTokenCount(text, bpeByteMerges)

  /** Same count under a CUSTOM byte-level merge table (symbols in the
   * [[byteToUnicode]] alphabet). */
  def bpeByteTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(
      filter(split(text, "\\s+"), w => w =!= ""),
      lit(0L),
      (acc, w) => acc + bpeByteWordCount(w, merges).cast("long"))

  /** Per-document byte-level vs whitespace counts — the byte-budget
   * companion of [[bpeTokenCounts]]: context windows in the GPT-2
   * lineage are BYTE-level BPE tokens, so bytes_per_token (not
   * chars_per_token) is the compression a byte-budgeted window
   * actually gets. */
  def bpeByteTokenCounts(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val words = filter(split(col(textCol), "\\s+"), w => w =!= "")
    val wordBytes = aggregate(words, lit(0L),
      (acc, w) => acc + octet_length(w).cast("long"))
    docs.select(col(idCol),
      size(words).cast("long").as("n_words"),
      bpeByteTokenCount(col(textCol)).as("n_bpe_byte_tokens"),
      wordBytes.as("__bc"))
      .withColumn("bytes_per_token",
        round(col("__bc") * lit(1.0) /
          greatest(col("n_bpe_byte_tokens"), lit(1L)), 4))
      .drop("__bc")
  }

  /**
   * Distributed BPE TRAINING (Sennrich et al. 2016, learn-merges loop):
   * derive the rank-ordered merge table from the corpus itself, the step
   * a tokenizer pipeline runs before any counting/packing. Classic BPE
   * trains on the word-frequency dictionary, so the corpus collapses to
   * one `(word, count)` aggregation first — at web scale that dictionary
   * is still hundreds of millions of rows, so it stays a DataFrame: each
   * round counts adjacent symbol pairs weighted by word frequency in one
   * distributed aggregation, takes the argmax (a 1-row TakeOrdered — the
   * only driver state is the merge table itself, k pairs), and applies
   * the merge as one narrow `replace` over the cached dictionary (the
   * [[bpeWordCount]] double-space representation makes one replace per
   * merge exactly the leftmost non-overlapping BPE step).
   *
   * Ties break (count desc, left asc, right asc) — deterministic across
   * partitionings and engines. Stops early when no pair reaches
   * `minPairCount` (the published stop rule at 2). Per round: one shuffle
   * (pair-count aggregation) + one narrow map; the dictionary re-persists
   * each round and is cut ([[Stage.cut]]) every `checkpointEvery` rounds,
   * so round r never replays rounds 1..r-1. Each cut releases the one
   * before it, and the last is released on return.
   */
  def trainBpe(docs: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, checkpointEvery: Int = 4): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be non-negative")
    require(minPairCount >= 2L,
      "minPairCount below 2 would merge pairs that never repeat")
    val rendered = docs
      .select(explode(filter(split(col(textCol), "\\s+"), w => w =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit(" "),
        rtrim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")).as("sym"),
        col("cnt"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var cur = rendered.persist()
    var prev: DataFrame = null
    var lastCut: Option[DataFrame] = None
    try {
      var done = merges.size >= numMerges
      while (!done) {
        // adjacent symbol pairs of each dictionary word, weighted by its
        // corpus frequency; single-symbol words contribute nothing
        val syms = filter(
          transform(split(col("sym"), "  "), s => btrim(s)), s => s =!= "")
        val top = cur
          .select(col("cnt"), syms.as("ss"))
          .where(size(col("ss")) >= 2)
          .select(col("cnt"), explode(zip_with(
            slice(col("ss"), lit(1), size(col("ss")) - 1),
            slice(col("ss"), lit(2), size(col("ss")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l"), col("p.r")).agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()
        // the aggregate above materialized cur's cache: the frame it was
        // derived from is now safe to release
        if (prev != null) { prev.unpersist(false); prev = null }
        if (top.isEmpty || top(0).getLong(2) < minPairCount) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          prev = cur
          cur = cur.withColumn("sym",
            replace(col("sym"), lit(s" $a  $b "), lit(s" $a$b "))).persist()
          if (merges.size % checkpointEvery == 0) {
            // truncate the replace-chain lineage so a cache eviction late
            // in training never replays every earlier round
            val cp = Stage.cut(cur)
            cur.unpersist(false)
            cur = cp
            lastCut.foreach(Stage.release)
            lastCut = Some(cp)
          }
          done = merges.size >= numMerges
        }
      }
      merges.toSeq
    } finally {
      cur.unpersist(false)
      if (prev != null) prev.unpersist(false)
      lastCut.foreach(Stage.release)
    }
  }

  /** Per-document BPE vs whitespace token counts — the budget most
   * training pipelines actually meter (context windows are BPE tokens,
   * not words). Emits the chars-per-BPE-token ratio as the calibration
   * signal quality pipelines track per source. */
  def bpeTokenCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val words = filter(split(col(textCol), "\\s+"), w => w =!= "")
    val wordChars = aggregate(words, lit(0L),
      (acc, w) => acc + length(w).cast("long"))
    docs.select(col(idCol),
      size(words).cast("long").as("n_words"),
      bpeTokenCount(col(textCol)).as("n_bpe_tokens"),
      wordChars.as("__wc"))
      .withColumn("chars_per_token",
        round(col("__wc") * lit(1.0) /
          greatest(col("n_bpe_tokens"), lit(1L)), 4))
      .drop("__wc")
  }

  /** Simple quality score: length stats + token shape, all portable
   * arithmetic (length/replace/least/round). `keep` columns pass through
   * unchanged (e.g. source/lang for per-source profiling) — still a single
   * narrow projection, no join needed to retain them. */
  def quality(docs: DataFrame, textCol: String, idCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val len = length(t).cast("long")
    val spaces = (length(t) - length(regexp_replace(t, lit(" "), lit("")))).cast("long")
    val tokens = spaces + lit(1L)
    docs.select(col(idCol) +: keep.map(col) :+
      len.as("n_chars_m") :+
      tokens.as("n_tokens") :+
      round((len - spaces) * lit(1.0) / tokens, 4).as("avg_token_len") :+
      round(least(tokens * lit(1.0) / lit(20.0), lit(1.0)), 4).as("quality"): _*)
  }

  /** Marker stopwords per language; shared with the oracle-SQL generator
   * so both engines count the exact same substrings. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " y ", " los "))

  /** The marker-vote winner for an already-padded text column — ties to
   * the alphabetically first language, zero hits to "und". ONE
   * definition shared by [[langId]] (whole documents) and [[langMix]]
   * (per-chunk), so the two views can never disagree on a
   * classification. */
  private def bestLang(padded: Column): Column = {
    def hits(words: Seq[String]): Column =
      words.map(w => (length(padded) - length(regexp_replace(padded, lit(w), lit("")))) /
        lit(w.length)).reduce(_ + _)
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (l, ws) => (l, hits(ws)) }
    val best = scored.tail.foldLeft((scored.head._2, lit(scored.head._1))) {
      case ((bs, bl), (l, s)) => (greatest(bs, s), when(s > bs, lit(l)).otherwise(bl))
    }
    when(best._1 > 0, best._2).otherwise(lit("und"))
  }

  /** Heuristic language ID from stopword hits (the container has no langid
   * model; this is the standard n-gram/stopword heuristic). */
  def langId(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
      bestLang(concat(lit(" "), col(textCol), lit(" "))).as("lang_pred"))

  /**
   * Language-consistency profile — the code-switching / mixed-language
   * detector document-level langid is blind to (a half-English
   * half-German page classifies as SOMETHING and quietly pollutes that
   * language's training slice): the document splits into fixed
   * `chunkTokens`-token windows, each window classifies independently
   * (the [[langId]] marker vote — ONE shared definition), and the
   * profile reports how unanimous the windows are. consistency = the
   * majority language's chunk share; the curation cut is typically
   * "keep iff consistency ≥ τ OR n_chunks == 1". Majority ties break
   * alphabetically (deterministic); "und" windows count — a document
   * of marker-free noise is honestly und-majority, not silently
   * dropped from its own denominator.
   *
   * Narrow chunk explode (sequence + slice — no shuffle), the marker
   * arithmetic per chunk (codegen'd), one (doc, lang) aggregation +
   * doc-keyed majority window. Output: idCol, n_chunks, n_langs,
   * majority_lang, consistency (4dp).
   */
  def langMix(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 50): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    // FanOut (r19): the chunk explode + per-chunk bestLang marker vote
    // is the expensive pre-shuffle map stage and ran at the scan's
    // parallelism (profiled: one 0.72 s task under a 1-split local
    // input); no-op at corpus scale — the langIdModel pattern.
    val chunks = FanOut(docs)
      .select(col(idCol), split(col(textCol), " ", -1).as("_tok"))
      .select(col(idCol),
        explode(sequence(lit(0),
          expr(s"(size(_tok) - 1) div $chunkTokens"))).as("_ci"),
        col("_tok"))
      .select(col(idCol),
        concat(lit(" "), concat_ws(" ",
          slice(col("_tok"), col("_ci") * chunkTokens + 1,
            lit(chunkTokens))), lit(" ")).as("_p"))
    val cl = chunks.select(col(idCol), bestLang(col("_p")).as("_lang"))
    // pinned (r19): perLang feeds BOTH the per-doc totals and the
    // majority window, and their differing projections defeat exchange
    // reuse — unpinned, the chunk explode + bestLang vote evaluated
    // twice. (doc, lang) counts are a tiny frame; Ops-scope release.
    val perLang = CacheScope.track(cl.groupBy(col(idCol), col("_lang"))
      .agg(count(lit(1)).as("_c")))
    val tot = perLang.groupBy(col(idCol))
      .agg(sum("_c").as("_n"), countDistinct(col("_lang")).as("n_langs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(desc("_c"), col("_lang"))
    perLang.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .join(tot, Seq(idCol))
      .select(col(idCol), col("_n").as("n_chunks"), col("n_langs"),
        col("_lang").as("majority_lang"),
        round(col("_c") / col("_n"), 4).as("consistency"))
  }

  /** Within-document repetition stats — the published "fraction of
   * duplicated n-grams" quality-filter family (Gopher/Dolma rules): docs
   * dominated by repeated 3-grams are boilerplate/template spam. Emits
   * (n_shingles, n_distinct, dup_3gram_frac) per doc with >= 3 tokens.
   * Narrow explode + one groupBy; shares Dedup's shingle definition. */
  def repetition(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sh = docs
      .select(col(idCol), split(col(textCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(col(idCol), explode(expr(Dedup.shingleExpr)).as("s"))
    sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("s")).as("n_distinct"))
      .select(col(idCol), col("n_shingles"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_shingles"), 4)
          .as("dup_3gram_frac"))
  }

  /** Duplicated-n-gram char COVERAGE of one document, as a SQL fragment
   * over a pre-bound `tok` array column: canonical-rendering characters
   * inside any within-doc n-gram that occurs >= 2 times. The pipeline is
   * all linear-ish per row: sort (gram, pos) structs, mark positions
   * whose gram equals a sorted neighbor's (neighbor probes are O(1)
   * element loads, never a membership scan), interval-merge the sorted
   * positions (the [[Dedup.maskRepeatedSpans]] fold), then measure each
   * merged interval with ONE array_join over its disjoint token slice —
   * total join work is bounded by the document length. */
  private def dupNgramCoverExpr(n: Int): String = {
    val nm1 = n - 1
    s"""aggregate(
       |  aggregate(
       |    array_sort(filter(transform(sequence(1, size(GE$n)), i ->
       |      CASE WHEN get(GE$n, i-1) = get(GE$n, i-2)
       |          OR get(GE$n, i-1) = get(GE$n, i)
       |        THEN element_at(GP$n, i).p END), x -> x IS NOT NULL)),
       |    named_struct(
       |      'ivs', cast(array() as array<struct<s:bigint,e:bigint>>),
       |      'cs', cast(-1 as bigint), 'ce', cast(-1 as bigint)),
       |    (st, p) -> if(st.cs < 0,
       |        named_struct('ivs', st.ivs, 'cs', p, 'ce', p + $nm1),
       |      if(p <= st.ce + 1,
       |        named_struct('ivs', st.ivs, 'cs', st.cs,
       |          'ce', greatest(st.ce, p + $nm1)),
       |        named_struct('ivs', concat(st.ivs,
       |            array(named_struct('s', st.cs, 'e', st.ce))),
       |          'cs', p, 'ce', p + $nm1))),
       |    st -> if(st.cs < 0, st.ivs,
       |      concat(st.ivs, array(named_struct('s', st.cs, 'e', st.ce))))),
       |  0L, (a, iv) -> a + length(array_join(
       |    slice(tok, cast(iv.s as int), cast(iv.e - iv.s + 1 as int)), ' ')))"""
      .stripMargin
  }

  /**
   * The COMPLETE Gopher repetition-statistic family (Rae et al. 2021
   * Table A1, the filter block Dolma/RefinedWeb replicate), one row per
   * document, one narrow zero-shuffle scan:
   *
   *  - `dup_line_frac` / `dup_para_frac` — fraction of lines (split on
   *    `\n`) / paragraphs (split on `\n\n`) that repeat an earlier one.
   *  - `dup_line_char_frac` / `dup_para_char_frac` — characters inside
   *    those repeat occurrences, over the RAW document length (the
   *    published denominator).
   *  - `top_{2,3,4}gram_char_frac` — characters covered by the single
   *    most-covering word n-gram: max over grams of count·len(gram),
   *    gram rendered space-joined (the published numerator), over raw
   *    length. (Deterministic formalization: published code takes
   *    Counter.most_common(1) with arbitrary tie-break; max-coverage is
   *    tie-stable and equals it whenever the top is unique.)
   *  - `dup_{5..10}gram_char_frac` — canonical-rendering characters
   *    covered by ANY n-gram occurring twice in the document, via
   *    interval union (alignment-free — the [[Dedup.crossDocSpans]]
   *    semantics applied within-doc; the published greedy skip-scan
   *    undercounts staggered overlaps, the union does not).
   *
   * Words come from the whitespace-class split (empties dropped), like
   * [[gopherQuality]]. Every statistic is per-row lambda arithmetic —
   * no explode, no shuffle; output partitioning inherits the input's.
   */
  def repetitionFull(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val dupElems = Seq("ln" -> "line", "para" -> "para").map { case (a, nm) =>
      Seq(
        round((size(col(a)) - size(array_distinct(col(a)))) * lit(1.0) /
          size(col(a)), 4).as(s"dup_${nm}_frac"),
        round((expr(s"aggregate($a, 0L, (a, x) -> a + length(x))") -
          expr(s"aggregate(array_distinct($a), 0L, (a, x) -> a + length(x))")) *
          lit(1.0) / greatest(col("doc_len"), lit(1L)), 4)
          .as(s"dup_${nm}_char_frac"))
    }
    val topGrams = Seq(2, 3, 4).map { k =>
      round(expr(
        s"""aggregate(array_sort(GS$k),
           |  named_struct('prev', cast(null as string),
           |    'run', 0L, 'best', 0L),
           |  (st, g) -> named_struct('prev', g,
           |    'run', if(st.prev is not null and g = st.prev,
           |      st.run + 1L, 1L),
           |    'best', greatest(st.best,
           |      if(st.prev is not null and g = st.prev, st.run + 1L, 1L)
           |        * length(g))),
           |  st -> st.best)""".stripMargin) * lit(1.0) /
        greatest(col("doc_len"), lit(1L)), 4).as(s"top_${k}gram_char_frac")
    }
    val dupGrams = (5 to 10).map { n =>
      round(expr(dupNgramCoverExpr(n)) *
        lit(1.0) / greatest(col("doc_len"), lit(1L)), 4)
        .as(s"dup_${n}gram_char_frac")
    }
    val gramCols = (2 to 10).flatMap { n =>
      val gp = s"""array_sort(transform(sequence(1, size(tok) - ${n - 1}), i ->
        named_struct('g', array_join(slice(tok, i, $n), ' '),
          'p', cast(i as bigint))))"""
      if (n <= 4) Seq(expr(s"transform($gp, x -> x.g)").as(s"GS$n"))
      else Seq(expr(gp).as(s"GP$n"),
        expr(s"transform($gp, x -> x.g)").as(s"GE$n"))
    }
    docs
      .select(Seq(col(idCol),
        length(col(textCol)).cast("long").as("doc_len"),
        expr(s"filter(split($textCol, '\\\\s+'), x -> x != '')").as("tok"),
        split(col(textCol), "\n", -1).as("ln"),
        split(col(textCol), "\n\n", -1).as("para")) ++ gramCols: _*)
      .select(col(idCol) +: (dupElems.flatten ++ topGrams ++ dupGrams): _*)
  }

  /** Text normalization for dedup/tokenization pre-passes: lowercase,
   * strip non-alphanumerics, collapse runs of whitespace, trim — all
   * codegen'd regexp/lower built-ins, replayable in any SQL engine.
   * (Unicode NFC folding is intentionally out: not portable across
   * engines, and the corpus contract here is UTF-8 text already.) */
  def normalize(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(col(idCol), norm.as("text_norm"),
      length(norm).cast("long").as("n_chars_norm"))
  }

  /** n-token shingle expression over a pre-split `tok` array, generic n
   * (Dedup.shingleExpr is the fixed n=3 instance). */
  private[ops] def ngramExpr(n: Int): String =
    s"transform(sequence(1, size(tok) - ${n - 1}), i -> " +
      s"array_join(transform(sequence(0, ${n - 1}), j -> tok[i - 1 + j]), ' '))"

  /**
   * Benchmark DECONTAMINATION scan — the eval-leakage check every serious
   * training-data pipeline runs: per document, how many of its distinct
   * word n-grams appear anywhere in the benchmark corpus. Filter or flag
   * docs above a contamination fraction before training.
   *
   * Scale shape: the benchmark side (eval sets — thousands of docs, not
   * billions) reduces to DISTINCT n-grams and is explicitly broadcast, so
   * the corpus-side scan is one narrow explode + a broadcast semi-join +
   * one groupBy — no shuffle of corpus n-grams across the cluster. Docs
   * with fewer than n tokens carry no n-grams and are absent (same rule as
   * the shingle operators).
   */
  def contamination(
      docs: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, "n-gram order must be >= 1")
    val d = docs
      .select(col(idCol), split(col(textCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= n)
      .select(col(idCol), array_distinct(expr(ngramExpr(n))).as("gs"))
    val dx = d.select(col(idCol), explode(col("gs")).as("g"))
    val bg = benchmark
      .select(split(col(benchTextCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= n)
      .select(explode(array_distinct(expr(ngramExpr(n)))).as("g"))
      .distinct()
    val matched = dx.join(broadcast(bg), Seq("g"), "leftsemi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_matched"))
    d.select(col(idCol), size(col("gs")).cast("long").as("n_ngrams"))
      .join(matched, Seq(idCol), "left")
      .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      .withColumn("contamination_frac",
        round(col("n_matched") * lit(1.0) / col("n_ngrams"), 6))
  }

  /** 64-bit document fingerprint (order-sensitive, unlike the
   * bag-of-tokens simhash). Default is xxhash64 (fastest); `portable =
   * true` emits the first 16 hex chars of the md5 digest instead (a string
   * column), which the DuckDB oracle reproduces exactly. */
  def fingerprint(
      docs: DataFrame, textCol: String, idCol: String,
      portable: Boolean = false): DataFrame =
    if (portable)
      docs.select(col(idCol), substring(md5(col(textCol)), 1, 16).as("fingerprint"))
    else
      docs.select(col(idCol), xxhash64(col(textCol)).as("fingerprint"))

  /** Confusable-character map (Unicode TR#39 skeleton, the high-traffic
   * subset): Cyrillic and Greek letters that render identically to Latin
   * — the homoglyph-spam channel that walks straight through exact AND
   * shingle dedup (one swapped о changes every hash) — plus fullwidth
   * Latin/digits and the invisible joiners/spaces (zero-width space,
   * ZWNJ, ZWJ, BOM, soft hyphen; NBSP maps to a real space). One
   * FROM/TO string pair consumed by `translate`: 1:1 positions map,
   * the invisible tail (beyond TO's length) DELETES — semantics shared
   * verbatim by Spark's and DuckDB's `translate`, so the whole skeleton
   * is engine-portable. */
  val confusablesFrom: String =
    "\u0430\u0435\u043e\u0440\u0441\u0443\u0445\u0456\u0455\u0458" + // Cyrillic a e o p c y x i s j
    "\u1d0f\u03bf\u03b1\u03b5\u03b9\u03ba\u03bd\u03c1\u03c4\u03c5" + // small-cap o; Greek o a e i k v p t u
    "\u041c\u0410\u0412\u0415\u041a\u041d\u041e\u0420\u0421\u0422\u0425" + // Cyrillic M A B E K H O P C T X
    ('\uff21' to '\uff3a').mkString + // fullwidth A-Z
    ('\uff41' to '\uff5a').mkString + // fullwidth a-z
    ('\uff10' to '\uff19').mkString + // fullwidth 0-9
    "\u00a0" + // NBSP -> space
    "\u200b\u200c\u200d\ufeff\u00ad" // ZWSP ZWNJ ZWJ BOM SHY: DELETED

  val confusablesTo: String =
    "aeopcyxisj" + // Cyrillic group
    "ooaeikvptu" + // small-cap o + Greek group
    "MABEKHOPCTX" + // Cyrillic capitals
    ('A' to 'Z').mkString + ('a' to 'z').mkString +
    ('0' to '9').mkString +
    " "

  /** The TR#39-style skeleton as a Column: confusables fold to their
   * Latin target, invisibles vanish, then lowercase — two codegen'd
   * built-ins, no UDF, replayable in any engine with `translate`. */
  def confusableSkeleton(c: Column): Column =
    lower(translate(c, confusablesFrom, confusablesTo))

  /** HTML entity decodings in application order. `&amp;` decodes LAST so
   * double-escaped entities survive literally (`&amp;lt;` → `&lt;`, not
   * `<`) — the standard single-pass decode order. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&amp;" -> "&")

  /**
   * HTML boilerplate strip (C4/CommonCrawl-style text extraction rule
   * family): drop every `<...>` tag (replaced by a space so adjacent words
   * never fuse), decode the core entities in [[htmlEntities]] order,
   * collapse whitespace runs, trim. Tags strip BEFORE entities decode, so
   * text that spelled out `&lt;b&gt;` keeps its literal `<b>` instead of
   * having it torn out as markup. Pure codegen'd regexp/replace built-ins
   * — narrow, shuffle-free, engine-portable.
   */
  def stripHtml(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val noTags = regexp_replace(col(textCol), "<[^>]*>", " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (c, (ent, ch)) =>
      replace(c, lit(ent), lit(ch)) // literal replace, same as the oracle's
    }
    val plain = trim(regexp_replace(decoded, " +", " "))
    docs.select(col(idCol), plain.as("text_plain"),
      length(plain).cast("long").as("n_chars_plain"))
  }

  /** PII patterns (name, regex, replacement token) in scrub order.
   * Restricted to the regex subset Java regex and RE2 share — ASCII
   * classes, bounded repetition, `\b` word boundaries, no lookaround — so
   * the DuckDB oracle replays both counting and redaction exactly.
   * Emails scrub first: an address can embed digit runs that the ip/phone
   * patterns would otherwise tear apart mid-token. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>"))

  /**
   * PII detection + redaction — the scrub pass every public training
   * corpus runs before release (C4/Dolma-style rule family): per-class
   * match counts on the ORIGINAL text (so counts are independent of scrub
   * order) plus the text with every class replaced by its token, applied
   * in `piiPatterns` order. Per-row regexp built-ins only — narrow,
   * codegen'd, shuffle-free: a 100 TB corpus scrubs in one
   * embarrassingly parallel scan with full column pruning.
   */
  def piiScrub(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val counts = piiPatterns.map { case (name, re, _) =>
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long").as(s"n_$name")
    }
    val scrubbed = piiPatterns.foldLeft(t) { case (c, (_, re, repl)) =>
      regexp_replace(c, re, repl)
    }
    docs.select(col(idCol) +: counts :+ scrubbed.as("text_scrubbed"): _*)
  }

  /**
   * Fixed-size overlapping character chunks (context-window prep): chunk
   * `i` covers `[i*stride, i*stride + size)`; the last chunk is clamped at
   * the end of the document; empty documents emit no chunks. With
   * `stride == size` the chunks tile the document exactly
   * (concatenating them reconstructs the text — property-tested).
   *
   * Scale shape: one narrow per-row sequence+explode — no shuffle, no
   * state; chunking 100 TB is a single embarrassingly parallel scan whose
   * output partitioning inherits the input's.
   */
  def chunk(docs: DataFrame, textCol: String, idCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    docs
      .select(col(idCol), col(textCol).as("t"),
        length(col(textCol)).as("len"))
      .filter(col("len") >= 1)
      .select(col(idCol), col("t"),
        explode(sequence(lit(0L),
          floor((col("len") - lit(1)).cast("double") / lit(stride))
            .cast("long"))).as("i"))
      .select(col(idCol),
        col("i").as("chunk_id"),
        (col("i") * stride).as("chunk_start"),
        col("t").substr(col("i") * stride + lit(1), lit(size))
          .as("chunk_text"))
      .withColumn("n_chunk_chars", length(col("chunk_text")).cast("long"))
  }

  /**
   * Content-defined chunking (the Rabin/rolling-boundary CDC family used
   * by dedup storage systems and long-document pipelines): a chunk
   * boundary falls after position `i` whenever the hash of the trailing
   * `window` characters hits the boundary condition — so boundaries are
   * determined by CONTENT, not offsets, and an edit near the start of a
   * document shifts only the chunks up to the next surviving boundary
   * (fixed-offset chunking reshuffles everything after the edit;
   * spec-asserted). Expected chunk length is 16·window-char positions
   * per boundary hit (the condition fires on 1/16 of positions).
   *
   * The boundary rule is `md5(window) starts with '0'` — deliberately in
   * the md5-portable subset (the same trick as the portable fingerprint)
   * so the DuckDB oracle replays boundaries exactly. Like [[chunk]], one
   * narrow per-row sequence/filter/explode — zero shuffle, no state;
   * output partitioning inherits the scan's. Cost is one md5 per
   * character position, the price of content-determined boundaries.
   */
  def cdcChunk(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 8): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = window
    val cuts =
      s"""array_distinct(concat(array(0L),
         |  CASE WHEN len >= $w + 1 THEN
         |    filter(transform(sequence(${w}L, len - 1L), i ->
         |      CASE WHEN substring(md5(substring(t,
         |          cast(i - $w + 1 as int), $w)), 1, 1) = '0'
         |        THEN i END), x -> x is not null)
         |  ELSE cast(array() as array<bigint>) END,
         |  array(len)))""".stripMargin
    // FanOut: the per-character rolling-hash cut scan is pure map work
    // at scan parallelism (single-file local inputs run it on one core)
    FanOut(docs)
      .select(col(idCol), col(textCol).as("t"),
        length(col(textCol)).cast("long").as("len"))
      .filter(col("len") >= 1)
      .withColumn("cuts", expr(cuts))
      .select(col(idCol), expr(
        s"""inline(transform(sequence(1, size(cuts) - 1), j -> struct(
           |  cast(j - 1 as bigint) as chunk_id,
           |  cuts[j - 1] as chunk_start,
           |  substring(t, cast(cuts[j - 1] + 1 as int),
           |    cast(cuts[j] - cuts[j - 1] as int)) as chunk_text)))"""
          .stripMargin))
      .withColumn("n_chunk_chars", length(col("chunk_text")).cast("long"))
  }

  /**
   * Concat-and-split sequence packing (GPT-style batch prep): documents
   * are laid end-to-end in deterministic `(shard, id)` order and cut every
   * `budget` tokens; each document reports the bin its first token lands
   * in and the offset within that bin, so a downstream writer can
   * materialize fixed-length training sequences without a second pass.
   *
   * Packing is per-SHARD by construction: a single global running sum
   * would funnel the whole corpus through ONE window partition — the
   * textbook scale-killer — and production packing pipelines pack per
   * worker shard anyway (bins never cross shards, so shards are
   * independent and the bin id is the pair `(shard, bin)`). Cost is one
   * shuffle on the shard key; per-shard state is a running sum.
   *
   * `tokenCount` picks the budget's unit — whitespace words by default,
   * [[bpeTokenCount]] to pack in the BPE tokens context windows are
   * actually measured in (the counter is a per-row expression either
   * way, so the plan shape does not change).
   */
  def packBins(docs: DataFrame, textCol: String, idCol: String,
      budget: Int, shardCol: String,
      tokenCount: Column => Column = wsTokenCount): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol), col(shardCol).as("shard"),
        tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div $budget"))
      .withColumn("bin_offset",
        col("cum_tokens") - col("n_tokens") - col("bin") * budget)
  }

  /**
   * Split documents into consecutive chunks of ~`budget` BPE tokens —
   * context-window chunking by the REAL token cost ([[bpeTokenCount]]'s
   * exact merge fold), not characters: the step between cleaning and
   * [[packBins]] when the training loader needs every sequence under the
   * model's context length. Words are never split; a word lands in chunk
   * `floor(tokens_before / budget)` (the [[packBins]] rule at word
   * granularity), so chunks fill to >= budget with overflow bounded by
   * the crossing word's cost, and one pathological word longer than a
   * whole budget skips chunk ids rather than splitting.
   *
   * Scale shape: per-word costs are per-row lambda built-ins; the
   * cumulative fold is ONE document-keyed window, and the reassembly
   * aggregation groups by the SAME key, so the whole operator costs
   * exactly one Exchange (plan-audited). Reassembly sorts each
   * document's collected (chunk, pos, word) structs and emits chunk
   * texts via per-chunk array_join — O(chunks · words) per document,
   * bounded by words²/budget.
   */
  def chunkByBudget(docs: DataFrame, textCol: String, idCol: String,
      budget: Int,
      merges: Seq[(String, String)] = bpeMerges): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"token budget must be >= 1, got $budget")
    // FanOut: the per-word BPE merge fold below is the expensive stage
    // and runs before the window's id-shuffle
    val words = FanOut(docs)
      .select(col(idCol),
        posexplode(expr(s"filter(split($textCol, '\\\\s+'), x -> x != '')")))
      .toDF(idCol, "pos", "w")
      .withColumn("c", bpeWordCount(col("w"), merges).cast("long"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    words
      .withColumn("cum", sum(col("c")).over(win))
      .withColumn("cid", expr(s"(cum - c) div $budget"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("cid"), col("pos"), col("w"), col("c")))).as("a"))
      .select(col(idCol), explode(expr(
        """transform(array_distinct(transform(a, x -> x.cid)),
          |  cid -> struct(
          |    cid AS chunk_id,
          |    array_join(transform(filter(a, x -> x.cid = cid),
          |      x -> x.w), ' ') AS chunk_text,
          |    aggregate(filter(a, x -> x.cid = cid), 0L,
          |      (s, x) -> s + x.c) AS n_bpe_tokens))""".stripMargin))
        .as("ch"))
      .select(col(idCol), col("ch.chunk_id"), col("ch.chunk_text"),
        col("ch.n_bpe_tokens"))
  }

  /** Gopher-rule stopword list (Rae et al. 2021 §A1.1): a document should
   * contain at least two of these to count as running English prose.
   * Shared with the oracle-SQL generator so both engines probe the exact
   * same padded substrings. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher-style quality rule set (Rae et al. 2021, the rule family Dolma/
   * RefinedWeb reuse): per-document word/line shape statistics plus the
   * published keep/drop verdict — word count in [50, 100000], mean word
   * length in [3, 10], symbol-to-word ratio < 0.1, >= 80% words with an
   * alphabetic character, < 90% bullet lines, < 30% ellipsis-ending lines,
   * >= 2 stopword hits.
   *
   * Scale shape: every statistic is a per-row expression over the token /
   * line arrays (lambda built-ins, no explode) — one narrow codegen'd
   * scan, zero shuffle, output partitioning inherits the input's. All
   * predicates live in the Java∩RE2∩LIKE subset so the DuckDB oracle
   * replays the verdict bit-for-bit.
   *
   * Tokenization is on the WHITESPACE CLASS (`\s+`, empties dropped), so
   * words separated by newlines/tabs count as separate words — the
   * published rules assume real word counts, and space-only splitting
   * fuses `sat\nwith` into one word, inflating mean_word_len on
   * multi-line prose. The stopword probe runs on the LOWERCASED text
   * with non-letters mapped to spaces, so `The` at sentence start, a
   * stopword before punctuation (`of.`), or one against a newline all
   * count toward the >= 2 threshold.
   */
  def gopherQuality(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("t"),
      expr("filter(split(t, '\\\\s+'), x -> x != '')").as("tok"),
      split(col(textCol), "\n", -1).as("ln"))
    val nWords = size(col("tok")).cast("long")
    val nAlphaWords =
      expr("size(filter(tok, x -> x rlike '[A-Za-z]'))").cast("long")
    val wordChars = expr("aggregate(tok, 0L, (acc, x) -> acc + length(x))")
    val nHash =
      (length(col("t")) - length(replace(col("t"), lit("#"), lit("")))).cast("long")
    val nEllipsis =
      ((length(col("t")) - length(replace(col("t"), lit("..."), lit("")))) / 3)
        .cast("long")
    val nLines = size(col("ln")).cast("long")
    val nBullet =
      expr("size(filter(ln, x -> x LIKE '- %' OR x LIKE '• %'))").cast("long")
    val nEndEllipsis = expr("size(filter(ln, x -> x LIKE '%...'))").cast("long")
    // lowercase + non-letters→space: boundary-insensitive stopword probe
    val padded = concat(lit(" "),
      regexp_replace(lower(col("t")), "[^a-z]", " "), lit(" "))
    val stopHits = gopherStopwords
      .map(w => when(instr(padded, s" $w ") > 0, 1L).otherwise(0L): Column)
      .reduce(_ + _)
    base.select(col(idCol),
        nWords.as("n_words"),
        round(wordChars * lit(1.0) / nWords, 4).as("mean_word_len"),
        round(nAlphaWords * lit(1.0) / nWords, 4).as("alpha_word_frac"),
        round((nHash + nEllipsis) * lit(1.0) / nWords, 4).as("symbol_word_ratio"),
        nLines.as("n_lines"),
        round(nBullet * lit(1.0) / nLines, 4).as("bullet_line_frac"),
        round(nEndEllipsis * lit(1.0) / nLines, 4).as("ellipsis_line_frac"),
        stopHits.as("stop_hits"))
      .withColumn("keep",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_word_ratio") < 0.1 &&
          col("alpha_word_frac") >= 0.8 &&
          col("bullet_line_frac") < 0.9 &&
          col("ellipsis_line_frac") < 0.3 &&
          col("stop_hits") >= 2).cast("long"))
  }

  /** Line predicates shared by the engine and the oracle generator: a C4
   * "kept" line ends in terminal punctuation, carries >= 5 space words,
   * and is not a javascript/policy boilerplate line. Expressed in the
   * Spark∩DuckDB lambda dialect so both engines evaluate the same text. */
  private[graft] val c4PunctLine =
    """(x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?' OR x LIKE '%"')"""
  private[graft] val c4BadLine =
    "instr(lower(x), 'javascript') = 0 AND " +
      "instr(lower(x), 'privacy policy') = 0 AND " +
      "instr(lower(x), 'terms of use') = 0 AND " +
      "instr(lower(x), 'cookie policy') = 0"

  /**
   * C4 cleaning rule set (Raffel et al. 2020 §2.2, the line-level filter
   * family FineWeb/Dolma descend from), as a document transform + audit
   * statistics. Line rules: keep only lines that end in a terminal
   * punctuation mark, have >= 5 words, and are not javascript / privacy
   * policy / terms of use / cookie policy boilerplate — `clean_text` is
   * the kept lines rejoined, which is what C4 actually ships (the filter
   * REWRITES pages, it doesn't just drop them). Page rules on the result:
   * drop documents mentioning `lorem ipsum`, containing `{` (the code
   * marker), or whose cleaned text has fewer than 3 sentence-ending
   * marks. Extra FineWeb-style audit columns (terminal-punctuation line
   * fraction, short-line fraction) quantify HOW boilerplate-shaped a page
   * was, for threshold tuning.
   *
   * Scale shape: identical to [[gopherQuality]] — every statistic and the
   * rewrite are per-row lambda built-ins over the line array, one narrow
   * codegen'd scan, zero shuffle, output partitioning inherits the
   * input's. Sentence counting is the nested-replace form (not
   * `translate`) so the DuckDB oracle replays it verbatim.
   */
  def c4Rules(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = docs.select(col(idCol), col(textCol).as("t"),
      split(col(textCol), "\n", -1).as("ln"))
    val withKept = base.withColumn("kept", expr(
      s"""filter(ln, x -> $c4PunctLine
         | AND size(filter(split(x, ' '), w -> w != '')) >= 5
         | AND $c4BadLine)""".stripMargin))
    val nLines = size(col("ln")).cast("long")
    val cleanText = array_join(col("kept"), "\n")
    val nSentences = (length(col("clean_text")) -
      length(replace(replace(replace(col("clean_text"), lit("."), lit("")),
        lit("!"), lit("")), lit("?"), lit("")))).cast("long")
    withKept.select(col(idCol),
        nLines.as("n_lines"),
        size(col("kept")).cast("long").as("n_kept_lines"),
        round(expr(s"size(filter(ln, x -> $c4PunctLine))") * lit(1.0) / nLines,
          4).as("punct_line_frac"),
        round(expr("size(filter(ln, x -> length(x) < 30))") * lit(1.0) / nLines,
          4).as("short_line_frac"),
        (instr(lower(col("t")), "lorem ipsum") > 0).cast("long").as("has_lorem"),
        (instr(col("t"), "{") > 0).cast("long").as("has_curly"),
        cleanText.as("clean_text"))
      .withColumn("n_sentences", nSentences)
      .withColumn("keep",
        (col("has_lorem") === 0 && col("has_curly") === 0 &&
          col("n_sentences") >= 3 && col("n_kept_lines") >= 1).cast("long"))
  }

  /**
   * Corpus-derived unigram language-model score (the CCNet/KenLM-style
   * perplexity-proxy quality signal, reduced to its order-0 model so it is
   * exactly SQL-replayable): token log-probability ln(count(t)/N) averaged
   * per document. Low scores flag documents full of corpus-rare tokens —
   * the same filtering axis CCNet's LM perplexity provides.
   *
   * Scale shape: one explode + vocabulary groupBy (map-side combined), the
   * corpus total enters the plan as a 1-row aggregate subtree (no count()
   * action), and the token→vocab join is NOT hint-broadcast — web-scale
   * vocabularies are billions of terms, so it stays a key-partitioned join
   * unless AQE measures it small (the topTfidfTerms rule).
   */
  def unigramLogProb(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(split(col(textCol), " ", -1)).as("t"))
      .filter(col("t") =!= "")
    val vocab = tok.groupBy("t").agg(count(lit(1)).cast("double").as("c"))
    val total = tok.select(count(lit(1)).cast("double").as("total"))
    tok.join(vocab, "t")
      .crossJoin(total)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("c") / col("total"))), 4).as("avg_logp"))
  }

  /**
   * Bigram language-model score with STUPID BACKOFF (Brants et al. 2007,
   * "Large Language Models in Machine Translation") — the order-1 upgrade
   * of [[unigramLogProb]]'s CCNet-style quality signal, still exactly
   * SQL-replayable because stupid backoff is count arithmetic with no
   * normalization pass:
   *
   *   score(t | prev) = c2(prev,t)/c1(prev)   if the bigram is in the model
   *                   = alpha * c1(t)/N       else if the unigram is
   *                   = alpha * 1/N           else (OOV floor)
   *   score(first t)  = c1(t)/N, or 1/N when OOV
   *
   * `model` may be a different frame than `docs` (score a candidate crawl
   * against a trusted reference corpus — then backoff and OOV genuinely
   * fire); it defaults to scoring the corpus against itself.
   *
   * Scale shape: bigrams come from per-row ARRAY slicing (zip of the
   * token list with its shift), never a positional self-join — token
   * sequencing is zero-shuffle. Model tables are map-side-combined
   * aggregations; N is a 1-row aggregate subtree; the token→model joins
   * are NOT hint-broadcast (web-scale bigram tables dwarf memory — AQE
   * decides, the unigramLogProb/topTfidfTerms rule).
   */
  def bigramLogProb(docs: DataFrame, textCol: String, idCol: String,
      model: DataFrame = null, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val m = Option(model).getOrElse(docs)
    // FanOut: the zip_with sequence construction is pre-shuffle map work
    def seqOf(df: DataFrame) = {
      val toks = filter(split(col(textCol), " ", -1), x => x =!= "")
      FanOut(df).select(col(idCol), toks.as("l"))
        .where(size(col("l")) > 0)
        .select(col(idCol), explode(zip_with(col("l"),
          concat(array(lit(null).cast("string")),
            slice(col("l"), lit(1), size(col("l")) - 1)),
          (t, p) => struct(t.as("t"), p.as("prev")))).as("z"))
        .select(col(idCol), col("z.t").as("t"), col("z.prev").as("prev"))
    }
    val scored = seqOf(docs)
    val mseq = seqOf(m)
    val c1 = mseq.groupBy("t").agg(count(lit(1)).cast("double").as("c1"))
    val c2 = mseq.where(col("prev").isNotNull)
      .groupBy("prev", "t").agg(count(lit(1)).cast("double").as("c2"))
    val nTot = mseq.select(count(lit(1)).cast("double").as("n_model"))
    val cp = c1.select(col("t").as("prev"), col("c1").as("c1p"))
    scored
      .join(c1, Seq("t"), "left")
      .join(cp, Seq("prev"), "left")
      .join(c2, Seq("prev", "t"), "left")
      .crossJoin(nTot)
      .select(col(idCol),
        when(col("prev").isNull,
          log(coalesce(col("c1"), lit(1.0)) / col("n_model")))
        .otherwise(
          when(col("c2").isNotNull, log(col("c2") / col("c1p")))
            .otherwise(log(lit(alpha) * coalesce(col("c1"), lit(1.0))
              / col("n_model")))).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (round(avg(col("lp")), 4) + lit(0.0)).as("avg_logp"))
  }

  /**
   * Trigram stupid-backoff LM score — the order-2 rung of the
   * [[unigramLogProb]] → [[bigramLogProb]] ladder (Brants et al. 2007;
   * each order catches fluency the lower one scores as noise, and
   * stupid backoff stays pure count arithmetic — no discounting
   * renormalization — so it remains exactly SQL-replayable):
   *
   *   score(t | p2, p1) = c3(p2,p1,t)/c2(p2,p1)        trigram hit
   *                     = α · c2(p1,t)/c1(p1)          bigram backoff
   *                     = α² · c1(t)/N                 unigram backoff
   *                     = α² · 1/N                     OOV floor
   *   position 2 starts at the bigram rung (α·… on its backoffs),
   *   position 1 at the unigram rung — each position scores from the
   *   highest order its history supports.
   *
   * Same scale shape as bigramLogProb: history comes from per-row array
   * shifts (zero-shuffle sequencing), model tables are map-side-combined
   * counts, N is a 1-row subtree, token→model joins AQE-decided (a
   * web-scale trigram table dwarfs memory — never hint-broadcast).
   */
  def trigramLogProb(docs: DataFrame, textCol: String, idCol: String,
      model: DataFrame = null, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val m = Option(model).getOrElse(docs)
    // FanOut: the nested zip_with construction is pre-shuffle map work
    def seqOf(df: DataFrame) = {
      val toks = filter(split(col(textCol), " ", -1), x => x =!= "")
      FanOut(df).select(col(idCol), toks.as("l"))
        .where(size(col("l")) > 0)
        .select(col(idCol), explode(zip_with(
          zip_with(col("l"),
            concat(array(lit(null).cast("string")),
              slice(col("l"), lit(1), size(col("l")) - 1)),
            (t, p) => struct(t.as("t"), p.as("prev"))),
          // sliced to the token count: zip_with pads to the LONGER side,
          // and the 2-null prefix would add a phantom row to 1-token docs
          slice(concat(
            array(lit(null).cast("string"), lit(null).cast("string")),
            slice(col("l"), lit(1), greatest(size(col("l")) - 2, lit(0)))),
            lit(1), size(col("l"))),
          (tp, p2) => struct(tp("t").as("t"), tp("prev").as("prev"),
            p2.as("prev2")))).as("z"))
        .select(col(idCol), col("z.t").as("t"), col("z.prev").as("prev"),
          col("z.prev2").as("prev2"))
    }
    val scored = seqOf(docs)
    val mseq = seqOf(m)
    val c1 = mseq.groupBy("t").agg(count(lit(1)).cast("double").as("c1"))
    val c2 = mseq.where(col("prev").isNotNull)
      .groupBy("prev", "t").agg(count(lit(1)).cast("double").as("c2"))
    val c3 = mseq.where(col("prev2").isNotNull)
      .groupBy("prev2", "prev", "t")
      .agg(count(lit(1)).cast("double").as("c3"))
    val nTot = mseq.select(count(lit(1)).cast("double").as("n_model"))
    val cp = c1.select(col("t").as("prev"), col("c1").as("c1p"))
    // trigram denominator: the (prev2, prev) bigram count, i.e. c2
    // re-keyed one position back
    val c2d = c2.select(col("prev").as("prev2"), col("t").as("prev"),
      col("c2").as("c2d"))
    val uni = log(coalesce(col("c1"), lit(1.0)) / col("n_model"))
    scored
      .join(c1, Seq("t"), "left")
      .join(cp, Seq("prev"), "left")
      .join(c2, Seq("prev", "t"), "left")
      .join(c2d, Seq("prev2", "prev"), "left")
      .join(c3, Seq("prev2", "prev", "t"), "left")
      .crossJoin(nTot)
      .select(col(idCol),
        when(col("prev").isNull, uni)
          .otherwise(when(col("prev2").isNull,
            when(col("c2").isNotNull, log(col("c2") / col("c1p")))
              .otherwise(log(lit(alpha)) + uni))
          .otherwise(
            when(col("c3").isNotNull, log(col("c3") / col("c2d")))
              .otherwise(when(col("c2").isNotNull,
                log(lit(alpha)) + log(col("c2") / col("c1p")))
                .otherwise(log(lit(alpha * alpha)) + uni))))
          .as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (round(avg(col("lp")), 4) + lit(0.0)).as("avg_logp"))
  }

  /**
   * Flesch reading-ease score — the classic readability signal a
   * curation stack runs next to the Gopher/C4 rules (a near-zero or
   * negative Flesch on prose flags run-on machine text; ~100 flags
   * trivial fragments): 206.835 − 1.015·(W/S) − 84.6·(Syl/W), with a
   * dictionary-free syllable PROXY — vowel groups ([aeiouy]+) per word,
   * floored at 1 per word — and sentences counted as [.!?]+ runs,
   * floored at 1 (fragments are one sentence, not zero). The proxy is
   * the standard public approximation; both sides of the gate replay it
   * identically, so the score is engine-exact even where the proxy
   * deviates from dictionary syllabification. Zero-word documents get a
   * NULL score (no readability evidence, reported not invented).
   * One narrow projection — counts come from regexp extraction, no
   * explode, no shuffle. Output: id, n_words, n_sentences,
   * n_syllables, flesch (4dp).
   */
  def readability(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, " ", -1), x => x =!= "")
    val vowelGroups = size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
    val wordsWithVowel = size(filter(split(lower(t), " ", -1),
      x => x.rlike("[aeiouy]")))
    val sentences = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
    docs.select(col(idCol),
        size(words).cast("long").as("n_words"),
        sentences.cast("long").as("n_sentences"),
        // floor-at-1: words without any vowel group still carry one
        // spoken syllable (acronyms, numbers)
        (vowelGroups + (size(words) - wordsWithVowel)).cast("long")
          .as("n_syllables"))
      .withColumn("flesch", when(col("n_words") > 0,
        round(lit(206.835)
          - lit(1.015) * col("n_words") / col("n_sentences")
          - lit(84.6) * col("n_syllables") / col("n_words"), 4)))
  }

  /**
   * Character-class profile — the mojibake / binary-spill / wrong-field
   * detector (a "text" column that is 40% punctuation is JSON or markup;
   * one with non-ASCII mass in an ASCII-declared corpus is encoding
   * damage): per document, counts of letters, digits, whitespace, ASCII
   * punctuation, and everything else (incl. non-ASCII), plus the
   * dominant class under a fixed letter ≻ digit ≻ punct ≻ space ≻ other
   * tie precedence. Counts are length-difference arithmetic
   * (len(text) − len(text with the class removed)) — one narrow
   * projection, no explode, no shuffle.
   * Output: id, n_chars, n_letter, n_digit, n_space, n_punct, n_other,
   * dominant.
   */
  def scriptProfile(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String) =
      (length(t) - length(regexp_replace(t, pattern, ""))).cast("long")
    val letters = cnt("[A-Za-z]")
    val digits = cnt("[0-9]")
    val spaces = cnt("[ \\t\\n\\r]")
    val punct = cnt("[!-/:-@\\[-`{-~]")
    docs.select(col(idCol), length(t).cast("long").as("n_chars"),
        letters.as("n_letter"), digits.as("n_digit"),
        spaces.as("n_space"), punct.as("n_punct"))
      .withColumn("n_other", col("n_chars") - col("n_letter")
        - col("n_digit") - col("n_space") - col("n_punct"))
      .withColumn("dominant",
        when(col("n_letter") >= col("n_digit") &&
          col("n_letter") >= col("n_punct") &&
          col("n_letter") >= col("n_space") &&
          col("n_letter") >= col("n_other"), "letter")
        .when(col("n_digit") >= col("n_punct") &&
          col("n_digit") >= col("n_space") &&
          col("n_digit") >= col("n_other"), "digit")
        .when(col("n_punct") >= col("n_space") &&
          col("n_punct") >= col("n_other"), "punct")
        .when(col("n_space") >= col("n_other"), "space")
        .otherwise("other"))
  }

  /**
   * Character-level Shannon entropy per document — the compression-side
   * quality signal (near-zero entropy = padding/repeated filler;
   * anomalously high = base64/binary spill masquerading as text) that
   * needs no dictionary, tokenizer, or model: H = −Σ p(c)·ln p(c) over
   * the document's characters, plus H/ln(n_distinct) normalized to
   * [0, 1] (0 when n_distinct ≤ 1). One explode to (id, char) counts
   * (map-side combined) + one id rollup — the entropyProfile shape at
   * document grain. Empty documents report 0 entropy.
   * Output: id, n_chars, n_distinct, entropy (4dp), norm_entropy (4dp).
   */
  def charEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // FanOut: the per-character explode is pre-shuffle map work
    val chars = FanOut(docs).select(col(idCol),
        explode(filter(split(col(textCol), "", -1), x => x =!= ""))
          .as("c"))
      .groupBy(col(idCol), col("c")).agg(count(lit(1)).as("n"))
    val perDoc = chars.groupBy(col(idCol))
      .agg(sum("n").as("n_chars"), count(lit(1)).as("n_distinct"),
        sum(col("n") * log(col("n"))).as("_snln"))
    val ids = docs.select(col(idCol)).distinct()
    ids.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        // H = ln n_total - (1/n) Σ n_c ln n_c  (count form, no division
        // inside the aggregation)
        round(coalesce(log(col("n_chars"))
          - col("_snln") / col("n_chars"), lit(0.0)), 4).as("entropy"))
      // normalized from the ROUNDED entropy (engine-identity over
      // mathematical purity, the kappa rule), 0 on degenerate alphabets
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1,
          round(col("entropy") / log(col("n_distinct").cast("double")), 4))
          .otherwise(lit(0.0)))
  }

  /**
   * Length-bucket padding report — the batching-policy input for padded
   * training: documents bucket to the next power-of-two token length
   * (capped at `maxSeqLen`, the standard bucketing ladder), and each
   * bucket reports how much of its padded capacity is real tokens.
   * High padding_frac in a bucket = wasted FLOPs; the fix is more
   * ladder rungs there or packing ([[packBins]]) instead of padding —
   * this report says which, per rung, before committing a corpus to a
   * batch shape. Zero-token documents carry no sequence and are
   * excluded. One narrow projection + one bucket-keyed aggregation.
   * Output: bucket_len, n_docs, total_tokens, capacity,
   * padding_frac (4dp), ordered small→large.
   */
  def lengthBucketPlan(docs: DataFrame, textCol: String,
      maxSeqLen: Int): DataFrame = {
    require(maxSeqLen >= 1, s"maxSeqLen must be >= 1: $maxSeqLen")
    val n = size(filter(split(col(textCol), "\\s+"), x => x =!= ""))
    // next power of two >= min(n, maxSeqLen) as an INTEGER comparison
    // ladder — float log2 lands on 3.0000000000000004 at exact powers
    // on some libms, and a ceil there would silently skip a rung
    val rungs = Iterator.iterate(1L)(_ * 2)
      .takeWhile(r => r < maxSeqLen).toSeq :+ maxSeqLen.toLong
    val clamped = least(col("_n"), lit(maxSeqLen.toLong))
    val bucket = rungs.init.foldRight(lit(rungs.last): Column) {
      (r, rest) => when(clamped <= r, lit(r)).otherwise(rest)
    }
    docs
      .select(n.cast("long").as("_n"))
      .filter(col("_n") > 0)
      .select(col("_n"), bucket.as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("_n"), lit(maxSeqLen.toLong))).as("total_tokens"))
      .withColumn("capacity", col("n_docs") * col("bucket_len"))
      .withColumn("padding_frac",
        round(lit(1.0) - col("total_tokens") / col("capacity").cast("double"),
          4))
  }

  /**
   * Cut a scored frame into per-group equal-population buckets: bucket 1
   * holds each group's HIGHEST scores. Exact form — `ntile` over a
   * (group, score desc, id) window, deterministic because the id breaks
   * every tie. One Exchange on the group key, and a per-group sort: the
   * honest cost of exact equal-population cuts. For groups too large to
   * sort (a 100 TB monolingual crawl), use [[bucketByScoreApprox]].
   */
  def bucketByScore(scored: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    scored.withColumn("bucket", ntile(buckets).over(w).cast("long"))
  }

  /**
   * Sketch form of [[bucketByScore]]: per-group `percentile_approx`
   * thresholds (one tiny mergeable sketch aggregation instead of a
   * per-group sort), then bucket = 1 + #thresholds at-or-above the score
   * as a per-row lambda against the broadcastable 1-row-per-group cut
   * table. Bucket POPULATIONS are approximate where scores tie or the
   * sketch rounds; bucket SEMANTICS (higher score → lower bucket) are
   * exact. This is the shape that survives a group too big to sort.
   */
  def bucketByScoreApprox(scored: DataFrame, groupCol: String,
      scoreCol: String, buckets: Int, accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val fracs = array((1 until buckets)
      .map(i => lit(i.toDouble / buckets)): _*)
    val cuts = scored.groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), fracs, lit(accuracy)).as("cuts"))
    scored.join(cuts, groupCol)
      .withColumn("bucket",
        (lit(1) + size(filter(col("cuts"),
          c => col(scoreCol) <= c))).cast("long"))
      .drop("cuts")
  }

  /** Per-language seed corpora for the trigram language model — original
   * sentences written for this library (ASCII-only so the letters-only
   * normalization is dialect-safe; `zh` is romanized pinyin, which is the
   * documented envelope of a Latin-alphabet trigram model). */
  private[graft] val langIdSeeds: Seq[(String, String)] = Seq(
    "en" -> ("the quick brown fox jumps over the lazy dog and runs through " +
      "the green fields while children watch from the old wooden bridge " +
      "near the river that flows quietly toward the sea every morning"),
    "es" -> ("el rapido zorro marron salta sobre el perro perezoso y corre " +
      "por los campos verdes mientras los ninos miran desde el viejo " +
      "puente de madera cerca del rio que fluye hacia el mar cada manana"),
    "de" -> ("der schnelle braune fuchs springt uber den faulen hund und " +
      "lauft durch die grunen felder wahrend die kinder von der alten " +
      "holzbrucke am fluss zusehen der jeden morgen leise zum meer fliesst"),
    "fr" -> ("le renard brun rapide saute par dessus le chien paresseux et " +
      "court dans les champs verts pendant que les enfants regardent " +
      "depuis le vieux pont en bois pres de la riviere qui coule vers la " +
      "mer chaque matin"),
    "it" -> ("la volpe marrone veloce salta sopra il cane pigro e corre nei " +
      "campi verdi mentre i bambini guardano dal vecchio ponte di legno " +
      "vicino al fiume che scorre verso il mare ogni mattina"),
    "zh" -> ("kuai su de zong se hu li tiao guo lan duo de gou bing chuan " +
      "guo lu se de tian ye hai zi men zai he bian de mu qiao shang guan " +
      "kan he shui mei tian zao chen jing jing de liu xiang da hai"))

  /** Held-out sentences per language (same authorship, disjoint from the
   * seeds) — the gate and specs classify THESE, so green means the model
   * generalizes past its training text. */
  private[graft] val langIdHeldOut: Seq[(String, String)] = Seq(
    "en" -> ("a small boy carries fresh bread home while his mother waits " +
      "beside the garden gate in the warm evening light"),
    "es" -> ("un nino pequeno lleva pan fresco a casa mientras su madre " +
      "espera junto a la puerta del jardin en la calida luz de la tarde"),
    "de" -> ("ein kleiner junge tragt frisches brot nach hause wahrend " +
      "seine mutter am gartentor im warmen abendlicht wartet"),
    "fr" -> ("un petit garcon porte du pain frais a la maison pendant que " +
      "sa mere attend pres de la porte du jardin dans la douce lumiere " +
      "du soir"),
    "it" -> ("un bambino piccolo porta pane fresco a casa mentre sua madre " +
      "aspetta accanto al cancello del giardino nella calda luce della " +
      "sera"),
    "zh" -> ("yi ge xiao nan hai ba xin xian de mian bao dai hui jia ma ma " +
      "zai hua yuan men kou deng zhe ta wan shang de yang guang hen wen " +
      "nuan"))

  private def charTrigrams(text: String): Seq[String] = {
    val s = text.toLowerCase.replaceAll("[^a-z]+", " ").trim
    if (s.length < 3) Seq.empty
    else (0 to s.length - 3).map(i => s.substring(i, i + 3))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Add-1-smoothed trigram log-probabilities per language, 6dp-rounded
   * so the engine literals and the oracle VALUES table are bit-identical.
   * V is the union trigram vocabulary across all seeds. */
  private[graft] lazy val (langIdModelRows, langIdFloorRows):
      (Seq[(String, String, Double)], Seq[(String, Double)]) = {
    val counts = langIdSeeds.map { case (l, s) =>
      l -> charTrigrams(s).groupBy(identity).view.mapValues(_.size).toMap
    }
    val v = counts.flatMap(_._2.keys).distinct.size
    val rows = counts.flatMap { case (l, c) =>
      val t = c.values.sum
      c.toSeq.sortBy(_._1).map { case (tri, n) =>
        (l, tri, r6(math.log((n + 1.0) / (t + v)))) }
    }
    val floors = counts.map { case (l, c) =>
      (l, r6(math.log(1.0 / (c.values.sum + v)))) }
    (rows, floors)
  }

  /**
   * Model-based language identification: a character-trigram naive-Bayes
   * scorer in the Cavnar–Trenkle / langdetect lineage — per language, an
   * embedded add-1-smoothed trigram log-probability profile (built from
   * [[langIdSeeds]] at class load; a production deployment swaps in
   * profiles trained on real per-language corpora through the same
   * shape); per document, the mean trigram log-likelihood under each
   * profile with a per-language OOV floor, argmax wins, ties break to the
   * lexicographically first language. This is the learned upgrade of the
   * marker-word [[langId]] heuristic: it scores EVERY trigram, so it
   * generalizes to text sharing no whole word with the seeds.
   *
   * Documents whose normalized text has fewer than 3 letters have no
   * trigrams and are absent from the output.
   *
   * Scale shape: the profiles join as ONE wide literal relation — a
   * (trigram → per-language logp vector) matrix completed with each
   * language's floor, so a single broadcast LEFT join annotates every
   * trigram occurrence and a single map-side-combined per-document
   * aggregation produces all language scores at once (OOV trigrams fall
   * to the floors via coalesce). The argmax is a literal column fold —
   * no window, no per-language join, ONE Exchange total (the document
   * aggregation). Scores are rounded to 4dp BEFORE the argmax so
   * aggregation-order float noise cannot flip it between engines or
   * partitionings; ties break to the lexicographically first language.
   */
  def langIdModel(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    val langs = langIdFloorRows.map(_._1).sorted
    val floorOf = langIdFloorRows.toMap
    val byLang = langIdModelRows.groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val wide = langIdModelRows.map(_._2).distinct.sorted
      .map(tri => (tri, langs.map(l => byLang(l).getOrElse(tri, floorOf(l)))))
      .toDF("tri", "lps")
    // FanOut: per-character trigram construction + the 40-column score
    // aggregation run at scan parallelism; each document's exploded rows
    // stay contiguous, so the per-doc sums are bit-identical.
    // Trigrams come from an exploded position sequence + plain substring
    // — NOT a transform() lambda: higher-order-function lambdas measured
    // a ~1.5 s FIXED per-action cost at any scale (plan/codegen setup,
    // r18), where the equivalent explode+substring is pure codegen
    // (identical rows, probe-verified; admission length>=3 ==
    // "has a trigram")
    val base = FanOut(docs)
      .select(col(idCol),
        trim(regexp_replace(lower(col(textCol)), "[^a-z]+", " ")).as("s"))
      .where(length(col("s")) >= 3)
    val agg = base
      .select(col(idCol), col("s"),
        explode(expr("sequence(1, length(s) - 2)")).as("i"))
      .select(col(idCol), expr("substring(s, i, 3)").as("tri"))
      .join(broadcast(wide), Seq("tri"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tri"),
        langs.zipWithIndex.map { case (l, i) =>
          sum(coalesce(element_at(col("lps"), i + 1), lit(floorOf(l))))
            .as(s"s_$l") }: _*)
    val scored = agg.select(col(idCol) +: col("n_tri") +:
      langs.map(l => round(col(s"s_$l") / col("n_tri"), 4).as(s"s_$l")): _*)
    val best = greatest(langs.map(l => col(s"s_$l")): _*)
    val pred = langs.tail.foldLeft(
        when(col(s"s_${langs.head}") === best, lit(langs.head))) {
      case (acc, l) => acc.when(col(s"s_$l") === best, lit(l))
    }
    scored.select(col(idCol), pred.as("pred_lang"), col("n_tri"),
      best.as("score"))
  }

  private def pplLabel(buckets: Int): Column =
    when(col("bucket") === 1, lit("head"))
      .when(col("bucket") === buckets, lit("tail"))
      .otherwise(lit("middle"))

  /**
   * CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting
   * High Quality Monolingual Datasets from Web Crawl Data"): rank every
   * document by language-model score WITHIN its language (or domain)
   * group and cut each group into equal-population head / middle / tail
   * slices — the partition CCNet ships and LLaMA-lineage pipelines train
   * from (head+middle kept, tail dropped or down-weighted). The LM is
   * [[bigramLogProb]]'s stupid-backoff model (optionally trained on a
   * separate trusted `model` corpus, as CCNet trains on Wikipedia);
   * higher avg log-prob = lower perplexity = bucket 1.
   *
   * Zero-token documents have no LM score and are absent from the output
   * (CCNet equally scores only non-empty paragraphs).
   *
   * Scale shape: the scoring joins are [[bigramLogProb]]'s; the cut adds
   * ONE Exchange on the group key + a per-group sort (exact ntile).
   * `approx = true` swaps the sort for per-group percentile sketches —
   * the monolingual-web-crawl path where one group is most of the data.
   */
  def ccnetBuckets(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, buckets: Int = 3, model: DataFrame = null,
      alpha: Double = 0.4, approx: Boolean = false): DataFrame = {
    val scored = docs.select(col(idCol), col(groupCol))
      .join(bigramLogProb(docs, textCol, idCol, model, alpha), Seq(idCol))
    val cut =
      if (approx) bucketByScoreApprox(scored, groupCol, "avg_logp", buckets)
      else bucketByScore(scored, groupCol, "avg_logp", idCol, buckets)
    cut.select(col(idCol), col(groupCol), col("n_tokens"), col("avg_logp"),
      col("bucket"), pplLabel(buckets).as("ppl_bucket"))
  }

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): score every corpus
   * document by how much more likely its tokens are under a TARGET
   * distribution than under the raw-corpus distribution —
   * logw(doc) = sum over token occurrences of ln(p_target(b) / p_raw(b))
   * where b is the token's HASH BUCKET. Hashing is the paper's core
   * scale idea: the model is `buckets` add-1-smoothed counts regardless
   * of vocabulary size, so the ratio table is fixed-size and mergeable
   * at any corpus scale. High-logw documents "look like" the target
   * domain; selection is a deterministic top-k over logw (the paper's
   * Gumbel resampling replaced by rank order so the result is exactly
   * replayable).
   *
   * Scale shape: two bucket-count aggregations (map-side combined,
   * state bounded by `buckets`), one B-row ratio join the optimizer is
   * free to broadcast (it is provably <= buckets rows), totals as 1-row
   * aggregate subtrees — no count() actions, no windows. The bucket id
   * is the md5-prefix construction every portable hash in this library
   * uses, so the oracle replays bit-for-bit.
   */
  def dsirWeights(corpus: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int = 65536): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // FanOut: one md5 per token, pre-shuffle map work
    def tok(df: DataFrame) = FanOut(df)
      .select(col(idCol), explode(split(col(textCol), " ", -1)).as("t"))
      .filter(col("t") =!= "")
      .withColumn("b",
        pmod(conv(substring(md5(col("t")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)))
    val ct = tok(corpus)
    val tt = tok(target)
    val rawCnt = ct.groupBy("b").agg(count(lit(1)).cast("double").as("cr"))
    val tgtCnt = tt.groupBy("b").agg(count(lit(1)).cast("double").as("ctg"))
    val rawTot = ct.select(count(lit(1)).cast("double").as("nr"))
    val tgtTot = tt.select(count(lit(1)).cast("double").as("nt"))
    // every scored token has cr >= 1 by construction (the raw side IS the
    // corpus); target-absent buckets smooth to (0 + 1) / (nt + buckets)
    val ratio = rawCnt.join(tgtCnt, Seq("b"), "left")
      .crossJoin(rawTot).crossJoin(tgtTot)
      .select(col("b"),
        (log((coalesce(col("ctg"), lit(0.0)) + 1.0) / (col("nt") + buckets))
          - log((col("cr") + 1.0) / (col("nr") + buckets))).as("lr"))
    ct.join(ratio, "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        // + 0.0 canonicalizes IEEE negative zero: a tiny negative sum can
        // round to -0.0, which engines render differently from 0.0
        (round(sum(col("lr")), 4) + lit(0.0)).as("dsir_logw"))
  }

  /**
   * Corpus-level unigram drift — KL and Jensen–Shannon divergence
   * between two corpora's token distributions over hashed buckets: the
   * TEXT member of the drift family ([[graft.ops.Profile.psiDrift]]
   * covers numeric columns; this answers "did the LANGUAGE of the feed
   * shift since the reference snapshot" — new domains, new boilerplate,
   * a scraper drifting into another language — before any downstream
   * metric moves). Token space is the [[dsirWeights]] md5-bucket hash
   * (fixed `buckets` width at any vocabulary — the state is bounded and
   * the chain replays in SQL); each side's distribution is
   * Laplace-smoothed p_b = (c_b + 1)/(n + buckets) so absent buckets
   * stay finite; per bucket the output carries both counts, both
   * probabilities, and the KL(cur‖ref) and JS contributions — sum the
   * contrib columns for the indices, keep the rows for WHERE the shift
   * lives (the psiDrift reporting convention). JS = ½KL(p‖m) + ½KL(q‖m)
   * with m the mixture: bounded by ln 2, symmetric — the alarm
   * threshold metric; raw KL is the sensitive directional probe.
   *
   * Shape: one token-explode + bucket count per side (map-side
   * combined to ≤ buckets rows), a buckets-sized grid join, 1-row
   * total subtrees — no data-sized join, no window, no action.
   * Output: bucket, n_ref, n_cur, p_ref, p_cur (8dp), kl_contrib,
   * js_contrib (8dp, −0.0 canonicalized).
   */
  def unigramDrift(ref: DataFrame, cur: DataFrame, textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def tok(df: DataFrame) = df
      .select(explode(split(col(textCol), " ", -1)).as("t"))
      .filter(col("t") =!= "")
      .select(pmod(conv(substring(md5(col("t")), 1, 6), 16, 10)
        .cast("long"), lit(buckets.toLong)).as("b"))
    def side(df: DataFrame, nc: String) =
      tok(df).groupBy("b").agg(count(lit(1)).as(nc))
    val spark = ref.sparkSession
    val grid = spark.range(buckets).select(col("id").as("b"))
    val joined = grid
      .join(side(ref, "n_ref"), Seq("b"), "left")
      .join(side(cur, "n_cur"), Seq("b"), "left")
      .withColumn("n_ref", coalesce(col("n_ref"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
    val tot = joined.groupBy().agg(
      sum("n_ref").cast("double").as("_tr"),
      sum("n_cur").cast("double").as("_tc"))
    joined.crossJoin(tot)
      .withColumn("_p", (col("n_ref") + 1.0) / (col("_tr") + buckets))
      .withColumn("_q", (col("n_cur") + 1.0) / (col("_tc") + buckets))
      .withColumn("_m", (col("_p") + col("_q")) / 2.0)
      .select(col("b").as("bucket"), col("n_ref"), col("n_cur"),
        round(col("_p"), 8).as("p_ref"),
        round(col("_q"), 8).as("p_cur"),
        (round(col("_q") * log(col("_q") / col("_p")), 8) + lit(0.0))
          .as("kl_contrib"),
        (round(col("_q") * log(col("_q") / col("_m")) / 2.0 +
          col("_p") * log(col("_p") / col("_m")) / 2.0, 8) + lit(0.0))
          .as("js_contrib"))
  }

  /** URL pattern in the Java∩RE2 subset (no lookaround): scheme + host +
   * optional path. The host must END on an alphanumeric so sentence
   * punctuation after a bare-host URL ("visit http://ads.bad.org.") is
   * not absorbed into the domain — a trailing dot would split domain
   * counts and silently miss the blocklist. Shared with the oracle so
   * both engines extract the same spans. */
  val urlPattern: String =
    "https?://[A-Za-z0-9.-]*[A-Za-z0-9](/[A-Za-z0-9/._-]*)?"

  /** Two-label public suffixes — the ICANN-section registries of the
   * Public Suffix List that carry crawl traffic, one block per ccTLD
   * registry (~270 suffixes; the PSL itself is a ~10k-line data file
   * whose long tail is wildcard and geographic entries). The contract
   * stays DOCUMENTED: hosts under an uncovered multi-label suffix fall
   * back to last-two-labels, and a production deployment can swap in
   * the full PSL file behind the same column contract. Shared with the
   * DuckDB oracle by interpolation so the mapping can never drift.
   * High-crawl ccTLD registries that a 44-entry subset mis-keyed
   * (com.ng, co.id, com.my, com.vn, co.th, com.eg, com.sa, co.ke, …)
   * are first-class here. */
  val twoLabelSuffixes: Seq[String] = Seq(
    // United Kingdom / Ireland
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk", "nhs.uk", "police.uk",
    // Oceania
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "maori.nz", "mil.nz", "health.nz",
    "ac.fj", "biz.fj", "com.fj", "gov.fj", "info.fj", "mil.fj", "net.fj",
    "org.fj", "com.pg", "net.pg", "ac.pg", "gov.pg", "mil.pg", "org.pg",
    "com.to", "gov.to", "net.to", "org.to", "edu.to", "mil.to",
    // East Asia
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "co.kr", "or.kr", "go.kr", "ne.kr", "re.kr", "pe.kr", "ac.kr",
    "ms.kr", "hs.kr", "es.kr", "sc.kr", "kg.kr", "mil.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw", "idv.tw",
    "club.tw", "game.tw", "ebiz.tw",
    "gov.mn", "edu.mn", "org.mn",
    // Southeast Asia
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "co.id", "net.id", "org.id", "web.id", "sch.id", "ac.id", "go.id",
    "mil.id", "biz.id", "desa.id", "my.id", "or.id", "ponpes.id",
    "com.my", "net.my", "org.my", "gov.my", "edu.my", "mil.my",
    "name.my",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn", "ac.vn",
    "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    "co.th", "ac.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph", "mil.ph",
    "i.ph",
    "com.kh", "edu.kh", "gov.kh", "mil.kh", "net.kh", "org.kh", "per.kh",
    "com.la", "net.la", "org.la", "edu.la", "gov.la", "int.la",
    "info.la", "per.la",
    // South Asia
    "co.in", "net.in", "org.in", "gov.in", "firm.in", "gen.in", "ind.in",
    "nic.in", "ac.in", "edu.in", "res.in", "mil.in",
    "com.pk", "net.pk", "edu.pk", "org.pk", "fam.pk", "biz.pk", "web.pk",
    "gov.pk", "gob.pk", "gok.pk", "gon.pk", "gop.pk", "gos.pk",
    "com.bd", "edu.bd", "ac.bd", "net.bd", "gov.bd", "org.bd", "mil.bd",
    "com.lk", "org.lk", "edu.lk", "ngo.lk", "soc.lk", "web.lk", "ltd.lk",
    "assn.lk", "grp.lk", "gov.lk", "sch.lk", "net.lk", "int.lk", "ac.lk",
    "com.np", "edu.np", "gov.np", "mil.np", "net.np", "org.np",
    // Middle East / Central Asia
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il", "k12.il",
    "com.tr", "gov.tr", "org.tr", "net.tr", "edu.tr", "k12.tr", "av.tr",
    "bel.tr", "biz.tr", "gen.tr", "info.tr", "tv.tr", "web.tr",
    "com.sa", "net.sa", "org.sa", "gov.sa", "med.sa", "pub.sa", "edu.sa",
    "sch.sa",
    "co.ae", "net.ae", "org.ae", "sch.ae", "ac.ae", "gov.ae", "mil.ae",
    "com.qa", "edu.qa", "gov.qa", "mil.qa", "name.qa", "net.qa",
    "org.qa", "sch.qa",
    "com.kw", "edu.kw", "emb.kw", "gov.kw", "ind.kw", "net.kw", "org.kw",
    "co.om", "com.om", "edu.om", "gov.om", "med.om", "net.om", "org.om",
    "pro.om",
    "com.jo", "org.jo", "net.jo", "edu.jo", "sch.jo", "gov.jo", "mil.jo",
    "name.jo",
    "com.lb", "edu.lb", "gov.lb", "net.lb", "org.lb",
    "com.iq", "edu.iq", "gov.iq", "mil.iq", "net.iq", "org.iq",
    "ac.ir", "co.ir", "gov.ir", "id.ir", "net.ir", "org.ir", "sch.ir",
    "org.kz", "edu.kz", "net.kz", "gov.kz", "mil.kz", "com.kz",
    "co.uz", "com.uz", "net.uz", "org.uz",
    "com.ge", "edu.ge", "gov.ge", "org.ge", "mil.ge", "net.ge", "pvt.ge",
    "com.az", "net.az", "int.az", "gov.az", "org.az", "edu.az",
    "info.az", "pp.az", "mil.az", "name.az", "pro.az", "biz.az",
    "co.am", "com.am", "net.am", "org.am",
    "com.by", "gov.by", "mil.by", "of.by",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua", "kiev.ua",
    "kyiv.ua", "lviv.ua", "od.ua", "odessa.ua",
    "ac.ru", "edu.ru", "gov.ru", "int.ru", "mil.ru",
    // Africa
    "co.za", "org.za", "gov.za", "net.za", "ac.za", "edu.za", "web.za",
    "com.ng", "edu.ng", "gov.ng", "net.ng", "org.ng", "name.ng",
    "sch.ng", "mil.ng", "mobi.ng", "i.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "mobi.ke", "info.ke",
    "com.eg", "edu.eg", "eun.eg", "gov.eg", "mil.eg", "name.eg",
    "net.eg", "org.eg", "sci.eg",
    "co.ma", "net.ma", "gov.ma", "org.ma", "ac.ma", "press.ma",
    "com.tn", "ens.tn", "fin.tn", "gov.tn", "ind.tn", "info.tn",
    "intl.tn", "nat.tn", "net.tn", "org.tn", "perso.tn", "tourism.tn",
    "com.dz", "org.dz", "net.dz", "gov.dz", "edu.dz", "asso.dz",
    "pol.dz", "art.dz",
    "com.gh", "edu.gh", "gov.gh", "org.gh", "mil.gh",
    "co.tz", "ac.tz", "go.tz", "hotel.tz", "info.tz", "me.tz", "mil.tz",
    "mobi.tz", "ne.tz", "or.tz", "sc.tz", "tv.tz",
    "co.ug", "or.ug", "ac.ug", "sc.ug", "go.ug", "ne.ug", "com.ug",
    "org.ug",
    "ac.zm", "biz.zm", "co.zm", "com.zm", "edu.zm", "gov.zm", "info.zm",
    "mil.zm", "net.zm", "org.zm", "sch.zm",
    "co.zw", "ac.zw", "gov.zw", "mil.zw", "org.zw",
    "com.et", "gov.et", "org.et", "edu.et", "biz.et", "name.et",
    "info.et", "net.et",
    // Latin America
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br",
    "blog.br", "eco.br", "emp.br", "ind.br", "inf.br", "jus.br",
    "leg.br", "mil.br", "tv.br", "adv.br", "eng.br",
    "com.mx", "org.mx", "gob.mx", "net.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "gov.ar",
    "int.ar", "mil.ar", "tur.ar",
    "com.co", "edu.co", "gov.co", "net.co", "org.co", "mil.co", "nom.co",
    "com.pe", "edu.pe", "gob.pe", "mil.pe", "net.pe", "nom.pe", "org.pe",
    "co.cl", "gob.cl", "gov.cl", "mil.cl",
    "com.ve", "edu.ve", "gob.ve", "mil.ve", "net.ve", "org.ve",
    "info.ve", "co.ve", "web.ve",
    "com.ec", "info.ec", "net.ec", "fin.ec", "k12.ec", "med.ec",
    "pro.ec", "org.ec", "edu.ec", "gov.ec", "gob.ec", "mil.ec",
    "com.uy", "edu.uy", "gub.uy", "mil.uy", "net.uy", "org.uy",
    "com.py", "coop.py", "edu.py", "gov.py", "mil.py", "net.py",
    "org.py",
    "com.bo", "edu.bo", "gob.bo", "int.bo", "org.bo", "net.bo",
    "mil.bo", "tv.bo", "web.bo",
    "ac.cr", "co.cr", "ed.cr", "fi.cr", "go.cr", "or.cr", "sa.cr",
    "com.gt", "edu.gt", "gob.gt", "ind.gt", "mil.gt", "net.gt", "org.gt",
    "com.do", "edu.do", "gob.do", "gov.do", "mil.do", "net.do",
    "org.do", "sld.do", "web.do", "art.do",
    "com.pr", "net.pr", "org.pr", "gov.pr", "edu.pr", "isla.pr",
    "pro.pr", "biz.pr", "info.pr", "name.pr", "est.pr", "prof.pr",
    "ac.pr",
    // Europe
    "ac.at", "co.at", "gv.at", "or.at",
    "ac.be",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "nome.pt",
    "org.pt", "publ.pt",
    "gov.it", "edu.it",
    "com.gr", "edu.gr", "net.gr", "org.gr", "gov.gr",
    "com.pl", "net.pl", "org.pl", "edu.pl", "info.pl", "biz.pl",
    "waw.pl", "wroc.pl",
    "co.hu", "info.hu", "org.hu", "priv.hu", "sport.hu", "tm.hu",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "nom.ro", "info.ro", "rec.ro",
    "arts.ro", "firm.ro", "store.ro", "www.ro",
    "com.se", "org.se", "pp.se", "tm.se", "parti.se", "press.se",
    // North America
    "gc.ca", "on.ca", "qc.ca", "bc.ca", "ab.ca", "mb.ca", "ns.ca",
    "nb.ca", "sk.ca", "nl.ca", "pe.ca")

  /** Registrable domain (eTLD+1) of a host — the SITE key crawl
   * pipelines group, block, and dedupe by (naive last-two-labels wrongly
   * fuses every .co.uk site into one "co.uk" key): one label past the
   * public suffix, with [[twoLabelSuffixes]] covering the multi-label
   * suffixes. Lowercased; single-label hosts pass through. Pure
   * codegen'd built-ins (split + element_at + a fixed IN list), no UDF,
   * engine-portable. */
  def registrableDomain(host: Column): Column = {
    val a = split(lower(host), "\\.")
    val n = size(a)
    val last1 = element_at(a, -1)
    val last2 = concat_ws(".", element_at(a, -2), last1)
    val last3 = concat_ws(".", element_at(a, -3), element_at(a, -2), last1)
    when(n >= 3 && last2.isin(twoLabelSuffixes: _*), last3)
      .when(n >= 2, last2)
      .otherwise(lower(host))
  }

  /** Extract every URL (with its registrable host) per document — the
   * first stage of crawl-curation domain filtering. One narrow codegen'd
   * regexp scan + explode; no shuffle. */
  def extractUrls(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(urlPattern), lit(0)))
          .as("url"))
      .withColumn("domain",
        regexp_extract(col("url"), "^https?://([A-Za-z0-9.-]+)", 1))

  /**
   * Per-domain curation profile with blocklist flagging (the UT1/adult-
   * blocklist filtering step every public crawl pipeline runs): URL and
   * document counts per domain, flagged against a blocklist table.
   *
   * Scale shape: one groupBy on domain (partial-aggregated); the blocklist
   * is a curated list — thousands to millions of rows, never corpus-scale
   * — so it is explicitly `broadcast()` and the flag join adds no
   * shuffle.
   */
  def domainProfile(urls: DataFrame, idCol: String,
      blocklist: DataFrame, approxDocCounts: Boolean = false): DataFrame = {
    // exact distinct doc counts for batch; the HLL++ sketch for STREAMING
    // frames (Complete mode), where distinct aggregations are unsupported
    // because their state is unbounded — the sketch is mergeable state
    val docCount =
      if (approxDocCounts) approx_count_distinct(col(idCol)).as("n_docs")
      else countDistinct(col(idCol)).as("n_docs")
    urls.groupBy("domain")
      .agg(docCount, count(lit(1)).as("n_urls"))
      // distinct before the flag join: a blocklist file that lists a
      // domain twice must not duplicate that domain's profile row
      .join(broadcast(blocklist.select(col("domain")).distinct()
          .withColumn("b_", lit(1L))),
        Seq("domain"), "left")
      .withColumn("blocked", coalesce(col("b_"), lit(0L)))
      .drop("b_")
  }

  /** Top-k TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).
   * Two shuffles total: term-frequency groupBy and document-frequency
   * groupBy. The tf-df join is NOT hint-broadcast: on a web-scale corpus
   * the vocabulary is billions of terms and a forced broadcast would OOM
   * the driver — it stays a key-partitioned join unless AQE measures dfreq
   * small enough to broadcast at runtime. The corpus size N enters the
   * plan as a 1-row aggregate subtree (no separate count() action/pass).
   * Ranking uses the ROUNDED score + term for cross-engine determinism. */
  def topTfidfTerms(
      docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val tokens = docs
      .select(col(idCol), explode(split(col(textCol), " ", -1)).as("term"))
      .filter(col("term") =!= "")
    val tf = tokens.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tokens.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(nDocs)
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 5))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("tfidf"), col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tfidf"), col("rank"))
  }

  /**
   * BM25 relevance scores (Robertson et al.; the Lucene-default
   * formulation): per document,
   *
   *   score = Σ_{t ∈ query}  idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
   *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
   *
   * rounded 4dp — the lexical side of hybrid retrieval (fuse with an
   * ANN ranking via [[Similarity.rrfFuse]]). Terms absent from the
   * query's corpus slice (df = 0) or the document (tf = 0) contribute
   * exactly 0; contributions add in QUERY ORDER, the exact fold the
   * oracle replays, so scores are bit-stable across engines.
   *
   * Shape: per-row token arrays (zero shuffle), corpus stats (N, avgdl,
   * per-term df) in ONE 1-row aggregation crossJoined back (no actions,
   * the pageRank pattern), per-term tf as per-row lambda counts. The
   * query is a literal — |query| terms cost |query| per-row counts,
   * never a vocabulary join; ranking/limiting is the caller's TakeOrdered.
   */
  def bm25Scores(docs: DataFrame, textCol: String, idCol: String,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must be non-empty")
    require(query.distinct.size == query.size, s"query terms must be distinct: $query")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]; got $k1, $b")
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val toks = docs.select(col(idCol),
      expr(s"filter(split($textCol, ' ', -1), x -> x != '')").as("tok"))
    val statAggs =
      query.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("tok"), t), 1.0).otherwise(0.0)).as(s"df$i")
      } ++ Seq(count(lit(1)).cast("double").as("n_docs"),
        avg(size(col("tok")).cast("double")).as("avgdl"))
    val stats = toks.agg(statAggs.head, statAggs.tail: _*)
    val dl = size(col("tok")).cast("double")
    val contribs = query.zipWithIndex.map { case (t, i) =>
      val tf = expr(s"cast(size(filter(tok, x -> x = '${esc(t)}')) as double)")
      when(col(s"df$i") > 0 && tf > 0,
        log(lit(1.0) + (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
          * tf * (k1 + 1.0)
          / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    toks.crossJoin(stats)
      .select(col(idCol), round(contribs.reduce(_ + _), 4).as("bm25"))
  }

  /**
   * Pseudo-relevance-feedback query expansion (Rocchio's positive
   * term-selection half; the PRF stage that completes the lexical
   * retrieval stack next to [[bm25Scores]], [[invertedIndex]],
   * [[graft.ops.Similarity.rrfFuse]] and `retrievalMetrics`): run the
   * query, take the top-`kDocs` BM25 documents as implicit relevance
   * feedback, score every term those documents contain by
   * tf_feedback · ln((N+1)/(df+1)) (feedback mass × corpus rarity —
   * the smoothed-idf convention the TF-IDF tier uses), drop the
   * original query terms, and return the top-`kTerms` expansion
   * candidates. Feedback selection is deterministic: (bm25 desc, id
   * asc) over 4dp-rounded scores, zero-score documents never feed
   * back (no signal is not relevance).
   *
   * Shape: one BM25 scan (1-row stats subtree), a TakeOrdered
   * top-kDocs (never a global sort), the feedback tf aggregation over
   * ≤ kDocs documents' tokens joined against the corpus df frame
   * (term-keyed), and a kTerms-sized final TakeOrdered. Output: term,
   * df, score (4dp), rank.
   */
  def prfExpansionTerms(docs: DataFrame, textCol: String, idCol: String,
      query: Seq[String], kDocs: Int = 10, kTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(kDocs >= 1 && kTerms >= 1, "kDocs and kTerms must be >= 1")
    val fb = bm25Scores(docs, textCol, idCol, query, k1, b)
      .filter(col("bm25") > 0)
      .orderBy(desc("bm25"), col(idCol))
      .limit(kDocs)
      .select(col(idCol))
    val toks = docs.select(col(idCol),
      explode(expr(s"filter(split($textCol, ' ', -1), x -> x != '')"))
        .as("term"))
    val dfAll = toks.distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), col("term"))
    toks.join(fb, Seq(idCol))
      .groupBy("term").agg(count(lit(1)).cast("double").as("_tf"))
      .filter(!col("term").isin(query: _*))
      .join(dfAll, Seq("term"))
      .crossJoin(n)
      .withColumn("score",
        round(col("_tf") * log((col("_n") + 1.0) / (col("df") + 1.0)), 4))
      .orderBy(desc("score"), col("term"))
      .limit(kTerms)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("term"), col("df"), col("score"), col("rank"))
  }

  /**
   * Inverted index: per term, the document frequency, collection
   * frequency, and the postings list as sorted "doc:tf" strings — the
   * retrieval-side artifact a lexical search serves from, built as two
   * keyed aggregations (term-doc tf, then term). Postings sort by
   * (doc, tf) struct order BEFORE string rendering, so the list is
   * numerically doc-ordered and engine-stable. `minDf` drops hapax
   * noise at write time. A term's postings list must fit one row (the
   * collect_list envelope) — at web scale, shard stopword-grade terms
   * upstream or raise `minDf`; df/cf here tell you exactly which terms
   * those are.
   */
  def invertedIndex(docs: DataFrame, textCol: String, idCol: String,
      minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val tf = docs
      .select(col(idCol).as("doc"),
        explode(split(col(textCol), " ", -1)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        transform(sort_array(collect_list(struct(col("doc"), col("tf")))),
          s => concat(s("doc").cast("string"), lit(":"),
            s("tf").cast("string"))).as("postings"))
      .where(col("df") >= minDf)
  }

  /**
   * Vocabulary coverage / OOV-rate audit — the tokenizer-drift check a
   * training pipeline runs before committing a corpus to a fixed vocab:
   * per document, how many tokens fall outside `vocab`? A rising OOV
   * share on fresh crawls is the signal to retrain the tokenizer or
   * re-curate the source. Output: id, n_tokens, n_oov, oov_frac (4dp,
   * 0.0 for empty documents).
   *
   * Shape at scale: one explode → vocab LEFT join (vocab projected to
   * distinct terms; AQE broadcasts a tokenizer-sized vocab, and a
   * degenerate corpus-sized one still shuffles as a plain equi-join) →
   * one doc-keyed aggregation. explode_outer keeps zero-token documents
   * in the report (absence from an audit is not a pass).
   */
  def oovRate(docs: DataFrame, textCol: String, idCol: String,
      vocab: DataFrame, termCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode_outer(filter(split(col(textCol), " ", -1),
        x => x =!= "")).as("term"))
    val v = vocab.select(col(termCol).as("term")).distinct()
      .withColumn("_in", lit(1L))
    toks.join(v, Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(col("term")).as("n_tokens"),
        coalesce(sum(when(col("term").isNotNull && col("_in").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_oov"))
      .withColumn("oov_frac", when(col("n_tokens") > 0,
        round(col("n_oov") / col("n_tokens"), 4)).otherwise(lit(0.0)))
  }

  /**
   * Distinctive terms per group — the log-odds-ratio with informative
   * Dirichlet prior of Monroe et al. 2008 ("Fightin' Words"), the
   * statistically honest version of c-TF-IDF: which vocabulary
   * characterizes each source/domain/language slice AGAINST the rest of
   * the corpus? For term w in group i vs the complement j:
   *   δ_iw = ln[(y_iw + α_w)/(n_i + α0 − y_iw − α_w)]
   *        − ln[(y_jw + α_w)/(n_j + α0 − y_jw − α_w)]
   * with the prior α_w = priorScale · c_w / N (the corpus itself is the
   * prior — rare-but-concentrated terms don't explode the way raw
   * odds/PMI do), and the variance-normalized
   *   z = δ / sqrt(1/(y_iw + α_w) + 1/(y_jw + α_w)).
   * Output: top-k rows per group by (z desc, term) — group, term,
   * n_group_term, delta (4dp), z (4dp).
   *
   * Shape at scale: one explode → (group, term) count (map-side
   * combined, the only data-sized shuffle), term totals and group/corpus
   * totals derived from IT (aggregation reuse, never a second scan; N
   * and α0 enter as a 1-row aggregate subtree — no count() action), the
   * term-totals join AQE-decided (web-scale vocabularies are not
   * hint-broadcast), and the per-group top-k is the topKPerGroup
   * WindowGroupLimit shape — every map task prunes to k rows per group
   * before the final exchange.
   */
  def distinctiveTerms(docs: DataFrame, textCol: String, groupCol: String,
      k: Int, priorScale: Double = 1.0, minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(priorScale > 0, s"priorScale must be positive, got $priorScale")
    val gt = docs
      .select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ", -1)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("grp", "term").agg(count(lit(1)).as("y_iw"))
    val termTot = gt.groupBy("term").agg(sum("y_iw").as("c_w"))
    val grpTot = gt.groupBy("grp").agg(sum("y_iw").as("n_i"))
    val corpus = termTot.agg(sum("c_w").cast("double").as("n_total"))
    val scored = gt
      .join(termTot, "term").join(grpTot, "grp").crossJoin(corpus)
      .filter(col("y_iw") >= minCount)
      .withColumn("a_w", lit(priorScale) * col("c_w") / col("n_total"))
      .withColumn("a0", lit(priorScale))
      .withColumn("y_jw", (col("c_w") - col("y_iw")).cast("double"))
      .withColumn("n_j", col("n_total") - col("n_i"))
      .withColumn("delta",
        log((col("y_iw") + col("a_w")) /
            (col("n_i") + col("a0") - col("y_iw") - col("a_w"))) -
        log((col("y_jw") + col("a_w")) /
            (col("n_j") + col("a0") - col("y_jw") - col("a_w"))))
      .withColumn("z", round(col("delta") /
        sqrt(lit(1.0) / (col("y_iw") + col("a_w")) +
             lit(1.0) / (col("y_jw") + col("a_w"))), 4))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("grp"))
      .orderBy(desc("z"), col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("grp").as(groupCol), col("term"),
        col("y_iw").as("n_group_term"), round(col("delta"), 4).as("delta"),
        col("z"), col("rank").cast("long").as("rank"))
  }

  /**
   * PMI bigram collocations — the multiword-expression miner
   * ("new york", "machine learning") that raw bigram counts miss
   * (frequent-word pairs dominate counts; PMI normalizes by how often
   * the parts occur alone): for each adjacent token pair,
   * pmi = ln(c_ab · N / (c_a · c_b)) with c_a/c_b unigram counts and N
   * the corpus token total — positive when the pair co-occurs more than
   * independence predicts. `minCount` floors the pair count first (PMI's
   * known pathology is maximal scores on hapax pairs — a count floor is
   * the standard Church–Hanks guard), then top-k by (4dp pmi desc,
   * term_a, term_b) so selection replays across engines.
   *
   * Shape at scale: bigrams come from the per-row zip-with-shift (token
   * sequencing is ZERO-shuffle — never a positional self-join); one
   * (a,b) pair count + one unigram count, both map-side combined; the
   * two unigram joins are AQE-decided (vocabulary-sized); N is a 1-row
   * aggregate subtree; top-k is TakeOrdered, never a global sort.
   * Output: term_a, term_b, n_pair, pmi (4dp).
   */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = filter(split(col(textCol), " ", -1), x => x =!= "")
    val base = docs.select(toks.as("l")).where(size(col("l")) > 0)
    val uni = base.select(explode(col("l")).as("t"))
      .groupBy("t").agg(count(lit(1)).cast("double").as("c"))
    val nTot = uni.agg(sum("c").as("n_total"))
    val pairs = base
      .select(explode(zip_with(col("l"),
        concat(array(lit(null).cast("string")),
          slice(col("l"), lit(1), size(col("l")) - 1)),
        (t, p) => struct(p.as("a"), t.as("b")))).as("z"))
      .select(col("z.a").as("a"), col("z.b").as("b"))
      .where(col("a").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(nTot)
      .select(col("a").as("term_a"), col("b").as("term_b"), col("n_pair"),
        (round(log(col("n_pair") * col("n_total") /
          (col("c_a") * col("c_b"))), 4) + lit(0.0)).as("pmi"))
      .orderBy(desc("pmi"), col("term_a"), col("term_b"))
      .limit(topK)
  }

  /**
   * Heaps'-law vocabulary growth (Heaps 1978) — the third corpus-
   * health number next to [[zipfFit]] and the compression ratio: how
   * fast does vocabulary grow as the corpus grows? Natural text runs
   * V ∝ N^β with β ≈ 0.5–0.7; a template flood's curve goes FLAT
   * (same words forever), synthetic id-soup runs β ≈ 1 (every token
   * new). Checkpoints are doc-id quantile prefixes; the trick that
   * makes k checkpoints cost ONE scan instead of k distinct-counts:
   * a term is in prefix p's vocabulary iff its FIRST-occurrence doc id
   * ≤ p's threshold — so one term-level min(doc_id) aggregation + k
   * conditional counts replaces k cumulative distincts (which no
   * engine can decompose; the adoption lesson). β is the regr_slope
   * of ln V on ln N over the checkpoints — shared moment definitions,
   * the zipfFit contract.
   * Output: one row per checkpoint — checkpoint, id_threshold,
   * n_tokens, vocab, beta (4dp; identical on every row — the fit is a
   * 1-row subtree).
   */
  def heapsLaw(docs: DataFrame, textCol: String, idCol: String,
      checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 2 && checkpoints <= 64,
      s"checkpoints must be in [2, 64]: $checkpoints")
    val tok = docs.select(col(idCol).cast("long").as("id"),
        explode(split(col(textCol), " ", -1)).as("term"))
      .filter(col("term") =!= "")
    val firstSeen = tok.groupBy("term").agg(min("id").as("_first"))
    val perDoc = tok.groupBy("id").agg(count(lit(1)).as("_nt"))
    val cuts = perDoc.agg(percentile(col("id"),
      typedLit((1 to checkpoints).map(_ / checkpoints.toDouble)))
      .as("_cuts"))
    val vAggs = (1 to checkpoints).flatMap(p => Seq(
      count(when(col("_first") <= col(s"_c$p"), 1)).as(s"_v$p")))
    val nAggs = (1 to checkpoints).flatMap(p => Seq(
      sum(when(col("id") <= col(s"_c$p"), col("_nt"))).as(s"_n$p")))
    def withCuts(df: DataFrame): DataFrame =
      (1 to checkpoints).foldLeft(df.crossJoin(cuts)) { (d, p) =>
        d.withColumn(s"_c$p", element_at(col("_cuts"), p))
      }
    val vRow = withCuts(firstSeen).agg(vAggs.head, vAggs.tail: _*)
    val nRow = withCuts(perDoc).agg(nAggs.head, nAggs.tail: _*)
    val grid = vRow.crossJoin(nRow).crossJoin(cuts)
      .select(expr(s"stack($checkpoints, " +
        (1 to checkpoints).map(p =>
          s"$p, element_at(_cuts, $p), _n$p, _v$p").mkString(", ") +
        ") AS (checkpoint, id_threshold, n_tokens, vocab)"))
    val beta = grid
      .filter(col("n_tokens") > 0 && col("vocab") > 0)
      .agg(expr("regr_slope(ln(cast(vocab as double)), " +
        "ln(cast(n_tokens as double)))").as("_b"))
    grid.crossJoin(beta)
      .select(col("checkpoint"), round(col("id_threshold"), 4)
          .as("id_threshold"),
        col("n_tokens"), col("vocab"),
        (round(col("_b"), 4) + lit(0.0)).as("beta"))
  }

  /**
   * Compression-ratio quality filter (the Gopher/RefinedWeb
   * compressibility signal): deflated/raw byte ratio per document —
   * machine-generated boilerplate and template floods compress FAR
   * better than natural prose, catching long-range repetition the
   * n-gram rules miss; near-random byte soup compresses WORSE (ratio
   * ≈ 1), the binary-spill tell. Ratios land roughly: template spam
   * < 0.3, natural text 0.4–0.8, random > 0.9 — calibrate thresholds
   * per deployment (deflate lengths are JVM-deterministic, not an
   * engine-portable contract — the rows-only-gate honesty note lives
   * on [[graft.functions.DeflateKernel]]).
   * One narrow codegen'd projection (`graft_deflate_len` native
   * expression), zero shuffles. Empty docs report NULL ratio.
   * Output: id, n_bytes, n_deflate, ratio (4dp), too_repetitive.
   */
  def compressionRatio(docs: DataFrame, textCol: String, idCol: String,
      minRatio: Double = 0.25): DataFrame = {
    require(minRatio > 0 && minRatio < 1, s"minRatio in (0,1): $minRatio")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol),
        octet_length(col(textCol)).as("n_bytes"),
        call_function("graft_deflate_len", col(textCol)).as("n_deflate"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          round(col("n_deflate") / col("n_bytes"), 4)))
      .withColumn("too_repetitive",
        coalesce(col("ratio") < minRatio, lit(false)))
  }

  /**
   * RAKE keyword extraction (Rose et al. 2010) — per-document key
   * phrases without a model: candidate phrases are the maximal token
   * runs BETWEEN stopwords (stopwords delimit, never appear inside),
   * each word scores degree/frequency over the document's own
   * candidates (degree = Σ length of candidates containing the word —
   * words that travel in long phrases beat loners), and a phrase
   * scores the sum of its word scores; top-k per document by
   * (4dp score desc, phrase). The classic single-document statistic —
   * deliberately per-doc, so the operator has no corpus-level model
   * state and sharding is trivial.
   *
   * Shape at scale: phrase segmentation is a per-row `aggregate` fold
   * over the token array (ZERO-shuffle — never a positional window),
   * then one (doc, word) aggregation for freq/degree, one join back on
   * (doc, word) — doc-keyed throughout — and the per-doc top-k is the
   * topKPerGroup WindowGroupLimit shape.
   * Output: id, phrase, n_words, score (4dp), rank.
   */
  def rakeKeywords(docs: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String], k: Int = 5): DataFrame = {
    require(stopwords.nonEmpty, "RAKE needs a stopword list — without " +
      "delimiters every document is one phrase")
    require(k >= 1, s"k must be >= 1: $k")
    require(stopwords.forall(s => s.nonEmpty && !s.contains("'")),
      "stopwords must be non-empty and quote-free")
    val stopArr = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val toks = filter(split(col(textCol), " ", -1), x => x =!= "")
    // per-row segmentation fold: stopword closes the current run.
    // FanOut: the fold is the expensive stage and runs pre-shuffle
    val phrases = FanOut(docs)
      .select(col(idCol).as("id"), toks.as("_l"))
      .where(size(col("_l")) > 0)
      .select(col("id"), expr(
        s"""aggregate(
          |  _l,
          |  struct(cast(array() as array<string>) AS cur,
          |    cast(array() as array<string>) AS out),
          |  (acc, t) -> CASE
          |    WHEN array_contains($stopArr, t) THEN struct(
          |      cast(array() as array<string>) AS cur,
          |      CASE WHEN size(acc.cur) > 0
          |        THEN concat(acc.out, array(array_join(acc.cur, ' ')))
          |        ELSE acc.out END AS out)
          |    ELSE struct(concat(acc.cur, array(t)) AS cur, acc.out AS out)
          |    END,
          |  acc -> CASE WHEN size(acc.cur) > 0
          |    THEN concat(acc.out, array(array_join(acc.cur, ' ')))
          |    ELSE acc.out END)""".stripMargin).as("_ps"))
      .select(col("id"), explode(col("_ps")).as("phrase"))
    // pin the phrase frame: the segmentation fold above is an
    // interpreted HOF (the expensive stage here), and the word-stat and
    // phrase-score subtrees below both re-evaluate `phrases` — the pin
    // bounds the fold to one evaluation (r18; AQE-planned cache
    // partitioning keeps the pin itself cheap)
    val phrasesPinned = CacheScope.track(phrases)
    val words = phrasesPinned
      .withColumn("_ws", split(col("phrase"), " ", -1))
      .withColumn("n_words", size(col("_ws")).cast("long"))
      .select(col("id"), col("phrase"), col("n_words"),
        explode(col("_ws")).as("word"))
    // word stats count EVERY candidate occurrence (the RAKE statistic);
    // a phrase is then scored ONCE — repeat occurrences change word
    // freq/degree, not how many times the phrase's score is summed
    val wordStats = words.groupBy("id", "word")
      .agg(count(lit(1)).cast("double").as("_freq"),
        sum(col("n_words")).cast("double").as("_deg"))
    val scored = words.distinct()
      .join(wordStats, Seq("id", "word"))
      .groupBy(col("id"), col("phrase"), col("n_words"))
      .agg(round(sum(col("_deg") / col("_freq")), 4).as("score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(desc("score"), col("phrase"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumnRenamed("id", idCol)
  }

  /**
   * Zipf rank–frequency fit — the one-number corpus-health check
   * (natural language lands near slope −1 on log f vs log rank;
   * template spam, boilerplate floods, and synthetic text bend the
   * curve): OLS of ln(freq) on ln(rank) over the `topN` most frequent
   * terms, reporting slope, intercept, and R². Ranks are assigned by
   * (freq desc, term) — the deterministic tiebreak that makes the fit
   * replay on any engine; the fit uses the standard regression moments
   * (regr_slope / regr_intercept / regr_r2 — identical definitions in
   * Spark and DuckDB, deliberately: that IS the oracle).
   *
   * Shape at scale: one explode → term count (map-side combined, the
   * only data-sized shuffle); the top-N cut is a TakeOrdered (bounded
   * per-partition heaps — NOT a rank window filtered afterwards, which
   * would sort the whole VOCABULARY in one task unless the optimizer's
   * InferWindowGroupLimit happened to fire: a web-scale crawl's
   * vocabulary is itself billions of terms, so boundedness here is
   * structural, not an optimizer courtesy — plan-audited); ranks are
   * then a window over the ≤ topN survivors (parameter-bounded, the
   * rrf_fuse contract), and the fit is one aggregation over topN rows.
   * Output: 1 row — n_terms, n_tokens, slope (4dp), intercept (4dp),
   * r2 (4dp).
   */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 1000)
      : DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = docs
      .select(explode(split(col(textCol), " ", -1)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("c"))
    import org.apache.spark.sql.expressions.Window
    // TakeOrdered over the vocabulary, THEN rank the bounded survivors
    val ranked = counts
      .orderBy(desc("c"), col("term")).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("c"), col("term"))))
    val stats = counts.agg(count(lit(1)).as("n_terms"),
      sum("c").as("n_tokens"))
    ranked
      .select(log(col("rank").cast("double")).as("lx"),
        log(col("c").cast("double")).as("ly"))
      .agg(expr("regr_slope(ly, lx)").as("_s"),
        expr("regr_intercept(ly, lx)").as("_i"),
        expr("regr_r2(ly, lx)").as("_r"))
      .crossJoin(stats)
      .select(col("n_terms"), col("n_tokens"),
        (round(col("_s"), 4) + lit(0.0)).as("slope"),
        (round(col("_i"), 4) + lit(0.0)).as("intercept"),
        (round(col("_r"), 4) + lit(0.0)).as("r2"))
  }
}
