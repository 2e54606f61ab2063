package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators: token counting, quality scoring, language ID,
  * document fingerprinting, multimodal-column plumbing.
  *
  * The SQL-expressible ones are built from ONE shared ANSI-SQL expression
  * string evaluated by Spark's selectExpr AND shipped verbatim as the DuckDB
  * oracle — the engines must agree bit-for-bit, which integer-only
  * arithmetic (plus single divisions) guarantees.
  */
object TextOps {

  /** Portable whitespace token count (single-space-separated corpus). */
  val tokensExpr = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"

  /** Portable marker-word counter: occurrences of ` w ` in ` text ` — the
    * length/replace trick, identical left-to-right non-overlap semantics in
    * Spark and DuckDB.
    */
  def markerExpr(w: String): String =
    s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) / ${w.length + 2} AS BIGINT)"

  /** BPE-ish subword tokenization via regex: letter runs, single digits,
    * punctuation runs — the GPT-2-style class split restricted to a pattern
    * whose semantics are identical in Java regex (Spark codegen) and
    * DuckDB's RE2, so the count is oracle-exact. Whitespace itself is not a
    * token.
    */
  val bpeIshPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Token-counting projection (Spark side; the oracle recomputes the same
    * regex with DuckDB's `len` — array-length spells differently per engine,
    * the pattern and semantics are identical).
    */
  val tokenCountSelect: Seq[String] = Seq(
    "doc_id",
    s"$tokensExpr AS ws_tokens",
    s"CAST(size(regexp_extract_all(text, '$bpeIshPattern', 0)) AS BIGINT) AS bpe_ish_tokens"
  )

  /** Quality-score projection: token count, char/token ratio, marker-word
    * ("stopword") ratio. Pure SQL → also the oracle.
    */
  val qualitySelect: Seq[String] = Seq(
    "doc_id",
    "CAST(length(text) AS BIGINT) AS n_chars_m",
    s"$tokensExpr AS n_tokens",
    s"CAST(length(text) AS DOUBLE) / $tokensExpr AS chars_per_token",
    s"CAST(${markerExpr("the")} + ${markerExpr("a")} AS DOUBLE) / $tokensExpr AS stopword_ratio"
  )

  /** Language-ID by marker-word argmax (deterministic tie order en→de→es→fr).
    * The scoring table is a pluggable Map; this trivial one is chosen so the
    * exact same CASE expression runs as the DuckDB oracle.
    */
  val langIdSelect: Seq[String] = {
    val en = markerExpr("the")
    val de = markerExpr("der")
    val es = markerExpr("el")
    val fr = markerExpr("le")
    Seq(
      "doc_id",
      s"CASE WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en' " +
        s"WHEN $de >= $es AND $de >= $fr THEN 'de' " +
        s"WHEN $es >= $fr THEN 'es' ELSE 'fr' END AS pred_lang"
    )
  }

  /** Karp-Rabin parameters for `fingerprint` — modular (never overflowing)
    * so the exact same arithmetic is DuckDB-expressible for the oracle.
    */
  val fpBase = 131L
  val fpMod = 1000003L
  val fpWindow = 16

  /** B^k mod M for k = 0..window-1 (fpPow(k)); fpPow(window-1) is the
    * leading-char weight removed by the rolling step.
    */
  val fpPow: Array[Long] = {
    val p = new Array[Long](fpWindow)
    p(0) = 1L
    var k = 1
    while (k < fpWindow) { p(k) = p(k - 1) * fpBase % fpMod; k += 1 }
    p
  }

  /** Document fingerprint: minimum Karp-Rabin rolling hash (mod fpMod) over
    * all 16-char windows — winnowing-style robust fingerprint, stable under
    * suffix edits. The rolling recurrence keeps every value in [0, fpMod):
    *   h' = ((h - code(out)·B^15) · B + code(in)) mod M
    * so the oracle can recompute each window hash as a plain 16-term modular
    * sum. Docs shorter than the window hash their full text with the same
    * weights (right-aligned).
    */
  def fingerprint(docs: DataFrame, window: Int = fpWindow): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = fpBase
    val M = fpMod
    val topPow = fpPow(window - 1)
    docs.select($"doc_id", $"text").as[(Long, String)].map { case (id, text) =>
      val n = text.length
      var h = 0L
      var i = 0
      val lim = math.min(n, window)
      while (i < lim) { h = (h * B + text.charAt(i)) % M; i += 1 }
      var minH = h
      while (i < n) {
        h = Math.floorMod((h - text.charAt(i - window) * topPow) * B + text.charAt(i), M)
        if (h < minH) minH = h
        i += 1
      }
      (id, minH)
    }.toDF("doc_id", "fingerprint").orderBy("doc_id")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): from every window of `w` consecutive `k`-word
    * grams, select the minimal gram hash, rightmost position on ties
    * ("robust winnowing"), which guarantees any shared run of ≥ w+k-1
    * words between two documents shares a selected fingerprint. Output
    * (doc_id, pos, gh) is the per-doc sketch a similarity index stores
    * instead of all grams (expected density 2/(w+1)).
    *
    * Cross-engine exactness: gram hash = first 8 md5 hex digits as an
    * integer (the proven nibble-sum oracle idiom); the (hash asc, pos
    * desc) selection order packs into ONE exact BIGINT key
    * `gh·2³¹ + (2³¹−1−pos)` (gh < 2³², pos ≤ 2³¹−1 ⇒ key < 2⁶³), so a
    * plain windowed `min` realizes the rightmost-tie rule identically on
    * both engines. Trailing windows shorter than `w` at the doc tail add
    * selections (frame clipped), which only strengthens coverage.
    *
    * Scale shape: gram build + md5 are codegen'd narrow projections
    * (posexplode over slice — no UDF, gram strings never shuffle); ONE
    * doc_id-keyed exchange feeds the sliding-window min, and the
    * selection dedup is a collect_set on the SAME key, so the groupBy
    * reuses the window's partitioning — no second exchange (plan guard).
    * Per-task memory is bounded by one doc's gram count, the kernel's own
    * per-row bound.
    */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1L)
    docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .where(s"size(ws) >= $k")
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', slice(ws, i + 1, $k)))) AS (pos, g)")
      .selectExpr("doc_id", "pos",
        "CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT) AS gh")
      .withColumn("sel", min(expr("gh * 2147483648 + (2147483647 - pos)")).over(win))
      .groupBy("doc_id").agg(collect_set(col("sel")).as("sels"))
      .select(col("doc_id"), explode(col("sels")).as("sel"))
      .selectExpr("doc_id",
        "CAST(2147483647 - (sel % 2147483648) AS INT) AS pos",
        "CAST(sel div 2147483648 AS BIGINT) AS gh")
  }

  /** Rule-based sentence segmentation: split on terminal punctuation
    * followed by spaces (`[.!?] +` — a literal class with identical
    * semantics in Java regex and RE2), emitting (doc_id, sent_idx,
    * sentence, n_words) with the pre-filter index so empty segments drop
    * without renumbering. The passage-granular unit for per-sentence
    * dedup / packing / quality stats. Zero shuffles — a codegen'd
    * posexplode projection, no UDF.
    */
  def sentences(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "posexplode(split(text, '[.!?] +')) AS (sent_idx, sentence)")
      .where("sentence <> ''")
      .selectExpr("doc_id", "sent_idx", "sentence",
        "CAST(length(sentence) - length(replace(sentence, ' ', '')) + 1 AS BIGINT) AS n_words")

  /** Exact corpus length quantiles per language (p25/p50/p75/p90/p99 of
    * character counts, Hyndman-Fan type-7 linear interpolation — what
    * quantile_cont and numpy compute) via explicit rank arithmetic rather
    * than Spark's `percentile` aggregate: the exact aggregate buffers a
    * whole group's values in one task (a straggler per hot language at
    * corpus scale), while rank picking rides a per-lang window sort
    * (external — spills) plus a partial-agged conditional max, the
    * distributed-exact shape. The interpolation `lo + (hi−lo)·frac` and
    * the rank math `floor((cnt−1)·q)` are written identically in the
    * oracle SQL, so every output is the same two-rounding IEEE double on
    * both engines (no double sums anywhere).
    */
  def lenQuantiles(docs: DataFrame,
                   qs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5,
                     "p75" -> 0.75, "p90" -> 0.9, "p99" -> 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = docs.selectExpr("lang", "doc_id", "CAST(length(text) AS BIGINT) AS n")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy("n", "doc_id")).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("lang")))
    val aggs = qs.zipWithIndex.flatMap { case ((_, q), i) =>
      // the quantile literal must be DOUBLE on both engines — a bare 0.25
      // parses as DECIMAL in Spark SQL and DuckDB alike, changing the
      // rounding path
      val qd = s"CAST($q AS DOUBLE)"
      val lo = s"CAST(floor((cnt - 1) * $qd) AS BIGINT)"
      Seq(
        max(expr(s"CASE WHEN rn - 1 = $lo THEN n END")).as(s"lo$i"),
        max(expr(s"CASE WHEN rn - 1 = least($lo + 1, cnt - 1) THEN n END")).as(s"hi$i"),
        max(expr(s"(cnt - 1) * $qd - floor((cnt - 1) * $qd)")).as(s"fr$i"))
    }
    val outs = qs.zipWithIndex.map { case ((name, _), i) =>
      expr(s"lo$i + (hi$i - lo$i) * fr$i").as(name)
    }
    ranked.groupBy("lang").agg(aggs.head, aggs.tail: _*)
      .select(col("lang") +: outs: _*)
  }

  /** Gopher-style repetition quality metrics (Rae et al. 2021 §A1.1): per
    * doc, total/distinct word counts, the count of the most frequent word,
    * and the count of the most frequent adjacent bigram. High
    * top-word/top-bigram fractions mark low-quality repetitive pages — the
    * standard pre-training repetition filters.
    *
    * Scale shape: two groupBys keyed (doc_id, gram) then doc_id, both with
    * map-side partial aggregation; the bigram projection is a codegen'd
    * sequence/transform/explode (no UDF); no windows, no driver loops. The
    * join back is keyed on doc_id only.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val wordAgg = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max("c").as("top_word_n"))
    val bigramAgg = docs
      .selectExpr("doc_id", "split(text, ' ') AS w")
      .selectExpr("doc_id",
        // slice(w, 1, 0) = typed empty array (array() would infer array<null>)
        "CASE WHEN size(w) < 2 THEN slice(w, 1, 0) " +
          "ELSE transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1])) END AS bs")
      .select(col("doc_id"), explode(col("bs")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
    wordAgg.join(bigramAgg, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_words", "n_distinct_words", "top_word_n",
        "coalesce(top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n",
        "CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac")
  }

  /** Per-document top distinctive term by TF-IDF (rational-idf variant:
    * score = tf / df, the linear form chosen so the cross-engine ordering is
    * exact — both engines produce the identical correctly-rounded double
    * from ONE division, and ties break on word order; ln(N/df) would make
    * the oracle compare transcendentals). The topical-keyword signal a
    * curation pass uses for domain filtering.
    *
    * Scale shape: tf is one partial-agged shuffle on (doc_id, word); df
    * aggregates the ALREADY-DISTINCT tf pairs (partial-agged, vocab-sized
    * output); the tf⋈df join shuffles on the word key (df is vocab-sized —
    * ~10^7 rows at crawl scale, too big to broadcast safely, small to
    * shuffle); the final top-1 is a row_number window on doc_id. No
    * collect, no cross product, every agg map-side partial.
    */
  def tfidfTop(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word").asc)
    tf.join(dfreq, "word")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "word", "tf", "df", "score")
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, Appendix A —
    * the rule subset whose arithmetic is integer-exact cross-engine): word
    * count bounds, mean-word-length bounds (as integer cross-products — no
    * division), symbol-to-word ratios for '#' and '…'-as-'...', and the
    * alphabetic-word fraction. `gopher_pass` is the conjunction a curation
    * pass filters on. Pure codegen'd projection — zero shuffles.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      s"$tokensExpr AS n_words",
      "CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars",
      "CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash",
      "CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_ellipsis",
      "CAST(size(filter(split(text, ' '), w -> w rlike '[A-Za-z]')) AS BIGINT) AS n_alpha_words"
    ).selectExpr(
      "doc_id", "n_words", "word_chars", "n_hash", "n_ellipsis", "n_alpha_words",
      // 50 ≤ words ≤ 100000; 3 ≤ mean word len ≤ 10 (word_chars vs 3·n and
      // 10·n); #/word < 0.1; .../word < 0.1; alpha-word fraction ≥ 0.8 —
      // all as integer cross-products
      """CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |           AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
        |           AND 10 * n_hash < n_words AND 10 * n_ellipsis < n_words
        |           AND 10 * n_alpha_words >= 8 * n_words
        |      THEN 1 ELSE 0 END AS INTEGER) AS gopher_pass""".stripMargin
    )

  /** CCNet-style repeated-line boilerplate removal: a line occurring in
    * ≥ `minDocs` DISTINCT documents of the same host is navigation/footer
    * chrome, not content — drop it; surviving lines reassemble in document
    * order. Input: (doc_id, host, text) with '\n'-separated lines.
    *
    * Plan shape at crawl scale: one (host, line) partial-agged distinct
    * count (the line-frequency table CCNet §4.1 builds per shard), one
    * keyed join back onto the line stream, one doc_id groupBy to
    * reassemble — every stage partial-aggregates, no per-host
    * materialization, hot boilerplate lines ("Home | About") are single
    * agg keys, never occurrence lists. Docs whose every line is chrome
    * survive with empty clean_text (the downstream length floor drops
    * them — lineage stays visible).
    */
  def removeBoilerplateLines(docs: DataFrame, minDocs: Int = 3): DataFrame = {
    val lines = docs.select(col("doc_id"), col("host"),
      posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
    val freq = lines.groupBy("host", "line")
      .agg(countDistinct("doc_id").as("line_df"))
    val flagged = lines.join(freq, Seq("host", "line"))
      .withColumn("keep", col("line_df") < minDocs)
    flagged.groupBy("doc_id").agg(
      concat_ws("\n", expr(
        "transform(array_sort(collect_list(CASE WHEN keep THEN struct(idx, line) END)), s -> s.line)"))
        .as("clean_text"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_lines_kept"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_lines_dropped"))
  }

  /** Out-of-vocabulary rate — the gibberish/encoding-damage signal a
    * curation pass thresholds: fraction of a doc's tokens NOT in the
    * corpus top-`vocabSize` vocabulary (count desc, word asc — a TOTAL
    * order, so the vocab boundary is deterministic). The vocab build is
    * one partial-agged shuffle + a tiny top-k; the per-doc scoring join
    * BROADCASTS the vocab (vocabSize rows — 50k in production, still
    * broadcast-sized). The token explode is recomputed per branch rather
    * than cached: stateless and ~1× corpus text, the same
    * recompute-beats-cache trade as the shingle stage.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(vocabSize)
      .select(col("w"), lit(1L).as("in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_known"))
      .select(col("doc_id"), col("n_tokens"), col("n_known"),
        ((col("n_tokens") - col("n_known")).cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Sequence packing (the pre-training batch-prep step): docs in doc_id
    * order within a shard (`source` is the shard key) pack into fixed
    * `ctxLen`-token context windows by prefix sum — each doc reports the
    * window it starts in and its offset there. One shard-keyed window
    * shuffle; the prefix sum streams sorted input (no materialization).
    * At 100 TB the shard key is the input split, exactly this plan with
    * more partitions; a single 10⁹-doc shard would need the two-pass
    * partial-sum + broadcast-offset variant instead.
    */
  def packSequences(docs: DataFrame, ctxLen: Long = 256L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs.selectExpr("doc_id", "source", s"$tokensExpr AS n_tokens")
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .selectExpr("doc_id", "source", "n_tokens", "cum_tokens",
        s"(cum_tokens - n_tokens) div $ctxLen AS bin_idx",
        s"(cum_tokens - n_tokens) % $ctxLen AS bin_offset")
  }

  /** Capped inverted-index build: per-word posting list of the `cap`
    * lowest doc_ids plus the word's TRUE document frequency — the
    * retrieval-corpus artifact, capped so a stopword's posting list never
    * materializes unbounded at crawl scale (the full list for "the" is
    * corpus-sized; the cap bounds every key's output while df still reports
    * the real count). One (doc_id, word)-distinct shuffle, then one
    * word-keyed window — row_number and the df count share the same
    * partition, so the cap costs no extra shuffle.
    */
  def invertedIndex(docs: DataFrame, cap: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
    val w = Window.partitionBy("word").orderBy("doc_id")
    val wAll = Window.partitionBy("word")
    words
      .withColumn("rank_idx", row_number().over(w) - 1)
      .withColumn("df", count(lit(1)).over(wAll))
      .where(col("rank_idx") < cap)
      .select("word", "rank_idx", "doc_id", "df")
  }

  /** Exact phrase search over the positional index — the serving-side query
    * an inverted index exists for. `phrase` is the ordered word list; a
    * match at `(doc_id, start_pos)` means words `start_pos .. start_pos+k-1`
    * of the doc equal the phrase (0-based word positions).
    *
    * Shape (the part that matters at 10^12 docs): the corpus-wide positional
    * posting stream `(word, doc_id, pos)` is filtered to the phrase's k
    * terms BEFORE anything shuffles — a codegen'd `isin` on the narrow
    * posexplode, so only the matched terms' postings (a vanishing fraction
    * of total positions for selective phrases) ever leave the scan. The
    * k−1 intersection joins are all keyed on the SAME `(doc_id, start)`
    * pair (term i's postings shifted by −i), so Catalyst plans one exchange
    * per term stream and the joins chain without re-partitioning — the
    * standard positional-intersection plan, not a corpus-wide window (a
    * `lead(word, i)` window would shuffle EVERY position of every doc).
    *
    * A repeated word in the phrase is handled naturally (its postings enter
    * twice, shifted differently). Duplicate-free by construction: positions
    * are unique per doc, so each (doc_id, start) survives at most once per
    * term stream.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val words = docs.select(
      col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .where(col("word").isin(phrase.distinct: _*)) // narrow pre-shuffle filter
    phrase.zipWithIndex.map { case (t, i) =>
      words.where(col("word") === t)
        .select(col("doc_id"), (col("pos") - i).cast("bigint").as("start_pos"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "start_pos")))
      .where(col("start_pos") >= 0)
  }

  /** Compression-ratio quality signal (Dolma/RedPajama-style gibberish
    * detector): deflate(text).length / utf8(text).length. Highly repetitive
    * boilerplate compresses far below ~0.3; random gibberish sits near 1.0.
    * Deterministic given the fixed deflate level, but not SQL-expressible →
    * rows-only driver check, invariants unit-tested. ONE Deflater per
    * partition, reset per row (no per-doc native allocation — the round-2
    * WARC gzip lesson).
    */
  def compressionRatio(docs: DataFrame, level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(level)
        // release the native zlib state at task end (ADVICE r2: relying on
        // the GC Cleaner accumulates off-heap deflater buffers)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => defl.end())
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(in)
          defl.finish()
          var out = 0L
          while (!defl.finished()) out += defl.deflate(buf)
          (id, in.length.toLong, out, if (in.length == 0) 1.0 else out.toDouble / in.length)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate", "compress_ratio")
  }

  /** C4-style text normalization patterns: strip control characters,
    * collapse whitespace runs to one space, trim. Classes written so Java
    * regex and DuckDB RE2 agree byte-for-byte.
    */
  val ctrlPattern = "[\\x00-\\x08\\x0b\\x0e-\\x1f]"
  val wsRunPattern = "[ \\t\\n\\r\\f]+"

  /** Normalization: strip controls → collapse whitespace → trim. One
    * codegen'd projection, zero shuffle. */
  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(col("text"), ctrlPattern, ""), wsRunPattern, " "))
        .as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("bigint"))

  /** PII-redaction patterns (pre-training scrub stage): restricted to
    * syntax whose semantics are identical in Java regex (Spark codegen)
    * and DuckDB RE2 so redaction is oracle-exact. Real deployments extend
    * the list; the machinery (count-then-replace single projection) is the
    * shipped thing.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val phonePattern = "[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"

  /** PII redaction: replace emails/phone-shaped substrings with typed
    * placeholder tags and count the replacements per doc. A single
    * codegen'd projection — ZERO shuffle; at 100 TB redaction rides the
    * same streaming scan as extraction. Expects a `text` column; emits
    * (doc_id, clean_text, n_emails, n_phones).
    */
  def redactPii(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      s"regexp_replace(regexp_replace(text, '$emailPattern', '<EMAIL>'), '$phonePattern', '<PHONE>') AS clean_text",
      s"CAST(size(regexp_extract_all(text, '$emailPattern', 0)) AS BIGINT) AS n_emails",
      s"CAST(size(regexp_extract_all(text, '$phonePattern', 0)) AS BIGINT) AS n_phones")

  /** Per-language keep rates (percent) for the training-mixture sampler;
    * languages absent from the list fall back to `strataDefaultRate`.
    * Ordered so the generated CASE expression is deterministic.
    */
  val strataRates: Seq[(String, Int)] = Seq("en" -> 60, "de" -> 40, "fr" -> 30)
  val strataDefaultRate = 20

  /** Per-doc sampling bucket in [0, 100): first 8 hex digits of
    * md5(doc_id) as an integer, mod 100 — reproducible across engines and
    * runs with no RNG state (DuckDB recomputes it as a nibble sum).
    */
  val sampleBucketExpr: String =
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"

  /** Deterministic stratified sampling for training-mixture construction:
    * per-language keep rates applied via the md5-derived bucket. A pure
    * projection + filter — ZERO shuffle, pushdown-friendly — so at 100 TB
    * "downsample low-resource-quality strata" costs one streaming scan.
    */
  def stratifiedSample(docs: DataFrame,
                       rates: Seq[(String, Int)] = strataRates,
                       defaultRate: Int = strataDefaultRate): DataFrame = {
    val rateCase = "CASE " +
      rates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ") +
      s" ELSE $defaultRate END"
    docs.selectExpr("doc_id", "lang", s"$sampleBucketExpr AS bucket")
      .where(expr(s"bucket < $rateCase"))
  }

  /** Unicode script classes for `scriptMix` (BMP ranges — identical
    * semantics as literal character ranges in Java regex and RE2).
    */
  val latinClass = "[A-Za-z]"
  val cyrillicClass = "[Ѐ-ӿ]"
  val cjkClass = "[一-鿿]"

  /** Script-mix detection — the multilingual-curation signal language-ID
    * models key on: per-doc counts of latin/cyrillic/CJK characters (the
    * length-after-removal trick, codegen'd) and the dominant script with
    * a deterministic tie order latin→cyrillic→cjk. Zero shuffles.
    */
  def scriptMix(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars",
      s"CAST(length(text) - length(regexp_replace(text, '$latinClass', '')) AS BIGINT) AS n_latin",
      s"CAST(length(text) - length(regexp_replace(text, '$cyrillicClass', '')) AS BIGINT) AS n_cyrillic",
      s"CAST(length(text) - length(regexp_replace(text, '$cjkClass', '')) AS BIGINT) AS n_cjk"
    ).selectExpr("doc_id", "n_chars", "n_latin", "n_cyrillic", "n_cjk",
      """CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk THEN 'latin'
        |     WHEN n_cyrillic >= n_cjk THEN 'cyrillic'
        |     ELSE 'cjk' END AS main_script""".stripMargin)

  /** Temperature-flattened mixture sampling (the Pile/DoReMi-style
    * source-balancing step): source s with n_s docs keeps
    * rate = (n_min/n_s)^(1-α); α=1 keeps natural proportions, α=0
    * flattens to uniform counts. Shipped α=0.5 ⇒ rate = √(n_min/n_s),
    * realized as floor(100·√(n_min/n_s)) over the md5 bucket — ONE
    * correctly-rounded IEEE division, sqrt, multiply, floor, so the kept
    * set is bit-exact cross-engine (no double sums anywhere). Plan: one
    * tiny partial-agged source-count agg, a global min over that
    * source-sized table (unpartitioned window — fine at any corpus size,
    * the table is |sources| rows), a BROADCAST rate join, then the
    * zero-shuffle bucket filter.
    */
  def temperatureSample(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val rates = counts
      .withColumn("n_min", min("n_src").over(Window.partitionBy()))
      .selectExpr("source", "n_src",
        "CAST(floor(100 * sqrt(CAST(n_min AS DOUBLE) / n_src)) AS BIGINT) AS keep_rate")
    docs.selectExpr("doc_id", "source", s"$sampleBucketExpr AS bucket")
      .join(broadcast(rates), "source")
      .where(col("bucket") < col("keep_rate"))
      .select("doc_id", "source", "bucket", "keep_rate")
  }

  /** Multimodal frame sampling: treat the payload as a fixed-stride frame
    * container (stride 4096 B), emit every `every`-th frame as its own row
    * (doc_id, frame_idx, frame_offset, frame_bytes). The per-FRAME pixel
    * decode remains a declared stub (no video codec in this container);
    * image-header decode is REAL in [[Media.imageMeta]]. The Spark-side
    * plumbing is the real thing being exercised — a narrow flatMap whose
    * output cardinality is data-dependent (the explode shape every
    * video/audio pipeline needs), partition-preserving, no shuffle.
    */
  def frameSample(docs: DataFrame, stride: Int = 4096, every: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // ceil division: an exact-multiple payload has no phantom zero-byte
        // trailing frame; an empty doc still emits one (empty) frame row
        val nFrames = math.max(1, (payload.length + stride - 1) / stride)
        (0 until nFrames).iterator.filter(_ % every == 0).map { j =>
          val off = j.toLong * stride
          val len = math.min(stride.toLong, payload.length - off)
          // STUB decode: a real build would decode payload[off, off+len) here
          (id, j, off, len)
        }
      }
      .toDF("doc_id", "frame_idx", "frame_offset", "frame_bytes")
  }

  /** DSIR-style hashed-ngram importance weights (Xie et al. 2023, "Data
    * Selection via Importance Resampling"): score each raw document by how
    * much its hashed-bigram distribution resembles a target corpus.
    *
    * DSIR proper weights log p_target(bucket) − log p_raw(bucket); floats
    * across engines are not bit-stable, so the score here is the
    * integer-scaled ratio Σ floor(SCALE · t_cnt / r_cnt) over the doc's
    * bigram occurrences — a monotone-per-bucket surrogate that keeps the
    * resampling ORDER (what DSIR consumes) while staying bit-exact in the
    * DuckDB oracle.
    *
    * Plan: bigrams are a zero-shuffle posexplode + neighbor concat —
    * everything codegen'd; the obvious `transform(sequence(…), i -> …)`
    * spelling evaluates the lambda INTERPRETED per element and measured
    * 14× slower — higher-order functions never enter
    * whole-stage codegen. The two bucket tables are ≤ B rows (B=256) built
    * with partial aggregation, then BROADCAST back onto the occurrence
    * stream; the per-doc sum is one doc-keyed partial-agged shuffle. The
    * 10^12-doc side never shuffles for the joins — at 100 TB the bucket
    * tables are still 256 rows.
    */
  val dsirBuckets = 256
  val dsirScale = 1000000L

  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame = {
    val bucket = s"CAST(conv(substr(md5(bg), 1, 8), 16, 10) AS BIGINT) % $dsirBuckets"
    def bigrams(df: DataFrame, cols: String*) = df
      .selectExpr((cols :+ "split(text, ' ') AS ws"): _*)
      .selectExpr((cols ++ Seq("ws", "posexplode(ws) AS (pos, w1)")): _*)
      .where("pos < size(ws) - 1")
      .selectExpr((cols :+ "concat(w1, ' ', ws[pos + 1]) AS bg"): _*)
      .selectExpr((cols :+ s"$bucket AS bkt"): _*)
    val rawB = bigrams(raw, "doc_id")
    val t = bigrams(target).groupBy("bkt").agg(count(lit(1)).as("t_cnt"))
    val r = rawB.groupBy("bkt").agg(count(lit(1)).as("r_cnt"))
    rawB
      .join(broadcast(r), Seq("bkt"))
      .join(broadcast(t), Seq("bkt"), "left")
      .selectExpr("doc_id", s"($dsirScale * coalesce(t_cnt, 0)) div r_cnt AS contrib")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("contrib").as("score"))
      .selectExpr("doc_id", "CAST(n_bigrams AS BIGINT) AS n_bigrams",
        "CAST(score AS BIGINT) AS score")
  }

  /** Distributed BPE vocabulary induction — learn the first `k` byte-pair
    * merges of a BPE tokenizer from the corpus (Sennrich et al. 2016), the
    * step that turns a curated corpus into a tokenizer.
    *
    * Scale shape: BPE's standard preprocessing collapse — the corpus-sized
    * token stream reduces ONCE to the vocab-sized (word, cnt) table
    * (partial-agged shuffle; counts cross the wire), and every merge
    * iteration then runs over vocab-sized data: adjacent-symbol pairs
    * weighted by word count (the zero-shuffle posexplode neighbor build),
    * one pair-keyed agg, a 1-row argmax to the driver (the Lloyd-style
    * legitimate small driver state), and the merge applied as a TWO-PASS
    * codegen'd `replace` over the interpunct-separated symbol string.
    * Why two passes: a single leftmost-non-overlapping replace consumes
    * the trailing separator its next occurrence needs as its leading one,
    * so back-to-back occurrences ('·m·a·m·a·' under merge (m,a)) merge
    * only alternately; the second pass catches the skipped ones, making
    * the application EXACT BPE greedy for any word without a 3+-long run
    * of one symbol. Runs of 3+ identical symbols ('aaaaa') still segment
    * with the correct token COUNT but alternate split positions — both
    * engines identically, since DuckDB's replace shares the semantics, so
    * the ORACLE replays all k merges bit-for-bit as unrolled CTE stages
    * with scalar-subquery double replaces.
    *
    * Symbols are '·'-delimited ('·a·b·c·'), so a merged symbol can never
    * false-match across a boundary, and the [a-z]+ word guard keeps every
    * symbol injection-safe and byte-comparable across engines. Argmax tie
    * order: count desc, then (left, right) ascending. Stops early when no
    * adjacent pair remains. Output: (iter, lhs, rhs, cnt).
    */
  def bpeMerges(docs: DataFrame, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val base = docs
      .selectExpr("explode(split(text, ' ')) AS word")
      .where("word RLIKE '^[a-z]+$'")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .selectExpr("cnt", "concat('·', regexp_replace(word, '(.)', '$1·')) AS s")
      .persist()
    var words = base
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 1
    var done = false
    while (i <= k && !done) {
      val top = words
        .selectExpr("cnt", "filter(split(s, '·'), x -> x != '') AS ws")
        .selectExpr("cnt", "ws", "posexplode(ws) AS (pos, a)")
        .where("pos < size(ws) - 1")
        .selectExpr("a", "ws[pos + 1] AS b", "cnt")
        .groupBy("a", "b").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((i, a, b, c))
        words = words.selectExpr("cnt",
          s"replace(replace(s, '·${a}·${b}·', '·${a}${b}·'), '·${a}·${b}·', '·${a}${b}·') AS s")
        i += 1
      }
    }
    base.unpersist()
    spark.createDataFrame(out.toSeq).toDF("iter", "lhs", "rhs", "cnt")
  }

  /** BM25 document ranking with fully INTEGER arithmetic — the retrieval
    * scorer completing the index family (inverted index → TF-IDF → BM25).
    * Query terms are self-selected for the demo: the `nTerms` most
    * discriminative words by |2·df − N| (df nearest N/2 — an all-docs word
    * has idf 0 and ranks nothing), ties by word. Scoring uses Robertson's
    * k1=6/5, b=3/4 cleared of fractions:
    *
    *   tf_comp  = (1000·44·avgdl_c·tf) div (20·avgdl_c·tf + 6·avgdl_c + 1800·dl)
    *   idf_bits = bitlen(((N−df)·1024) div (df+1) + 1) − 1   (whole-bit idf,
    *              the LM-surprisal trick — ln() is not bit-exact cross-engine)
    *   score    = Σ_terms idf_bits · tf_comp
    *
    * avgdl_c = (100·Σdl) div N. ONE floor division per component → the
    * DuckDB oracle replays every score bit-for-bit. Overflow headroom:
    * 44000·avgdl_c·tf stays under 2^63 to avgdl_c·tf ≈ 2·10^14.
    *
    * Scale shape: dl and df are partial-agged count shuffles (the index
    * build the engine already pays); the query-term filter BROADCASTS
    * before the tf aggregation so only matching postings are counted; N
    * and avgdl arrive as a broadcast 1-row side (no driver action); final
    * ranking is a distributed top-k.
    */
  def bm25TopDocs(docs: DataFrame, nTerms: Int = 3, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      expr("(100 * sum(dl)) div count(1)").as("avgdl_centi"))
    val dfTab = words.groupBy("w").agg(countDistinct("doc_id").as("df"))
    val terms = dfTab.crossJoin(broadcast(stats.select("n")))
      .orderBy(expr("abs(2 * df - n)"), col("w")).limit(nTerms)
      .select("w", "df")
    val tf = words.join(broadcast(terms), Seq("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"), max("df").as("df"))
    val scored = tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        "length(bin(((n - df) * 1024) div (df + 1) + 1)) - 1 AS idf_bits",
        "(1000 * 44 * avgdl_centi * tf) div (20 * avgdl_centi * tf + 6 * avgdl_centi + 1800 * dl) AS tfc_milli")
      .selectExpr("doc_id", "idf_bits * tfc_milli AS s")
      .groupBy("doc_id").agg(sum("s").as("score_milli"))
    scored.orderBy(col("score_milli").desc, col("doc_id")).limit(topK)
      .selectExpr("doc_id", "CAST(score_milli AS BIGINT) AS score_milli")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_milli").desc, col("doc_id"))))
  }

  /** Dirichlet-smoothed QUERY-LIKELIHOOD ranking (Zhai & Lafferty 2001) —
    * the language-modeling retrieval paradigm next to [[bm25TopDocs]]'
    * probabilistic relevance model (the two classic lexical scorers; an
    * index serves both). Each document is a smoothed unigram LM and the
    * query's surprisal under it ranks the docs (ascending — less surprised
    * = more relevant):
    *
    *   p(w|d) = (c(w,d) + μ·p(w|C)) / (|d| + μ),   p(w|C) = cf(w)/|C|
    *          = (c·|C| + μ·cf) / ((|d| + μ)·|C|)   — one exact fraction
    *
    * μ = 1000 (the classic corpus-scale prior). Surprisal per term in
    * MILLI-bits: whole bits alone cannot rank Dirichlet scores (the prior
    * keeps per-term ratios within ~10% ≈ 0.14 bits), so the fixed-point
    * ratio q = (den·1024) div num is split into bitlen + a 4-BIT-MANTISSA
    * piecewise-log CASE (the KenLM-style quantized-log idea):
    * milli ≈ 1000·log2(q/1024) at ≤ 88-millibit granularity — all integer
    * shifts/divs/CASE arms, so both engines replay the identical value.
    * A doc missing a query term pays the collection-prior surprisal
    * (cf ≥ 1 by the self-selected-terms construction — Dirichlet never
    * zeroes). Query terms self-select exactly as BM25's (df nearest N/2);
    * ranking (Σ milli asc, doc_id) is a total order. Overflow headroom:
    * den·1024 = (dl+μ)·|C|·1024 needs |C| ≲ 9e14 tokens as BIGINT — at
    * larger corpora normalize p(w|C) to 2^-30 fixed point once (making
    * num/den |C|-free), the production spelling.
    *
    * Scale shape: dl/df/cf are the index-build count shuffles; the terms
    * list broadcasts before the tf aggregation (only matching postings
    * count); the doc×term matrix is a broadcast crossJoin on the dl
    * table (3·N narrow rows, no shuffle); one doc-keyed sum + a
    * distributed top-k end it.
    */
  def queryLikelihoodTopDocs(docs: DataFrame, nTerms: Int = 3, topK: Int = 20,
                             mu: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("ctot"))
    val dfTab = words.groupBy("w")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
    val terms = dfTab.crossJoin(broadcast(stats.select("n")))
      .orderBy(expr("abs(2 * df - n)"), col("w")).limit(nTerms)
      .select("w", "cf")
    val tf = words.join(broadcast(terms.select("w")), Seq("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val scored = dl.crossJoin(broadcast(terms))
      .join(tf, Seq("doc_id", "w"), "left")
      .crossJoin(broadcast(stats.select("ctot")))
      .selectExpr("doc_id",
        s"((dl + $mu) * ctot * 1024) div (coalesce(c, CAST(0 AS BIGINT)) * ctot + $mu * cf) AS q")
      .selectExpr("doc_id", "q", "length(bin(q)) - 1 AS b")
      .selectExpr("doc_id",
        s"1000 * (b - 10) + ${mantissaMilliCase("shiftright(q, b - 4) - 16")} AS milli")
      .groupBy("doc_id").agg(sum("milli").as("surprisal_milli"))
    scored.orderBy(col("surprisal_milli"), col("doc_id")).limit(topK)
      .selectExpr("doc_id", "CAST(surprisal_milli AS BIGINT) AS surprisal_milli")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("surprisal_milli"), col("doc_id"))))
  }

  /** SERP fusion — the result PAGE in one operator: Dirichlet query-
    * likelihood ranking ([[queryLikelihoodTopDocs]]) fused with query-
    * biased snippet selection ([[snippets]]), where the passage scan runs
    * over the TOP-K docs ONLY — the fusion point a serving stack needs:
    * snippeting is O(k·hits²), never a corpus-wide pass below the ranking
    * cut. Same deterministic self-selected terms as BM25/QL (the O(nTerms)
    * term collect is the one bounded driver step); a ranked doc that
    * scores on the collection prior alone (zero term hits) keeps its rank
    * with an empty snippet (start_word −1) — ranking never silently drops
    * a result the scorer admitted.
    */
  def searchResults(docs: DataFrame, nTerms: Int = 3, topK: Int = 20,
      mu: Long = 1000L, window: Int = 10): DataFrame = {
    val words = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
    val n = words.selectExpr("doc_id").distinct().count()
    val terms = words.groupBy("w").agg(countDistinct("doc_id").as("df"))
      .orderBy(expr(s"abs(2 * df - ${n}L)"), col("w")).limit(nTerms)
      .collect().map(_.getString(0)).toSeq
    val ranked = queryLikelihoodTopDocs(docs, nTerms, topK, mu)
    val sn = snippets(
      docs.join(broadcast(ranked.select("doc_id")), Seq("doc_id")), terms, window)
    ranked.join(sn, Seq("doc_id"), "left")
      .selectExpr("rank", "doc_id", "surprisal_milli",
        "coalesce(start_word, CAST(-1 AS BIGINT)) AS start_word",
        "coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits",
        "coalesce(snippet, '') AS snippet")
      .orderBy("rank")
  }

  /** round(1000·log2(1 + k/16)) for the 4-bit mantissa k = 0..15 — the
    * piecewise-log table shared verbatim by the Spark expression and the
    * DuckDB oracle (both engines evaluate the identical CASE).
    */
  val mantissaMilli: Seq[Int] =
    Seq(0, 87, 170, 248, 322, 392, 459, 524, 585, 644, 700, 755, 807, 858, 907, 954)

  /** `CASE <kExpr> WHEN 0 THEN 0 … END` over [[mantissaMilli]]. */
  def mantissaMilliCase(kExpr: String): String =
    mantissaMilli.zipWithIndex
      .map { case (v, k) => s"WHEN $k THEN $v" }
      .mkString(s"CASE ($kExpr) ", " ", " ELSE 0 END")

  /** Apply the learned BPE tokenizer: per-document token counts after the
    * first `k` merges — the "how many tokens is my corpus under this
    * tokenizer" question every data-mixing budget needs ([[bpeMerges]]
    * learns; this encodes). The merge chain compiles into k nested
    * codegen'd `replace` calls over the interpunct symbol string — a
    * zero-shuffle projection on the exploded word stream, then ONE
    * doc-keyed partial-agged sum. (At production k in the hundreds you
    * materialize the post-merge vocab table ONCE — it is exactly the
    * trainer's final word table — and broadcast-join it; the oracle
    * validates that equivalence by joining its w_k table, which checks the
    * merge application over the ENTIRE vocabulary, a far stronger check
    * than the k argmax rows alone.)
    */
  def bpeEncode(docs: DataFrame, k: Int = 5): DataFrame = {
    val merges = bpeMerges(docs, k).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val chain = merges.foldLeft("concat('·', regexp_replace(word, '(.)', '$1·'))") {
      case (e, (a, b)) =>
        s"replace(replace($e, '·${a}·${b}·', '·${a}${b}·'), '·${a}·${b}·', '·${a}${b}·')"
    }
    docs.selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .where("word RLIKE '^[a-z]+$'")
      .selectExpr("doc_id", s"size(filter(split($chain, '·'), x -> x != '')) AS toks")
      .groupBy("doc_id")
      .agg(sum("toks").as("bpe_tokens"), count(lit(1)).as("n_words"))
      .selectExpr("doc_id", "CAST(bpe_tokens AS BIGINT) AS bpe_tokens",
        "CAST(n_words AS BIGINT) AS n_words")
  }

  /** Production-k BPE trainer — the merge loop [[bpeMerges]] runs as k Spark
    * jobs, executed DRIVER-SIDE over the collected (word, cnt) vocabulary
    * table. This is the standard scale split for BPE (Sennrich et al. 2016,
    * and every production tokenizer since): the corpus-sized token stream
    * collapses ONCE to the vocab-sized word-frequency table with a
    * partial-agged distributed shuffle (the only pass that touches the
    * corpus — at 100 TB this is the whole cost), and the merge loop then
    * runs over data that is MBs by Heaps' law, where a per-iteration Spark
    * job is pure scheduling overhead. k=32,000 merges become a driver loop
    * over a few hundred thousand strings instead of 32,000 jobs.
    *
    * Bit-exactness with the distributed loop (spec-pinned at k=5 and by
    * prefix at k=1,000): pair counting is every adjacent symbol position
    * weighted by word count; argmax tie order is count desc then (lhs, rhs)
    * ascending (symbols are [a-z]+ substrings, so Java's compareTo IS the
    * UTF8String binary order Spark sorts by); the merge applies as the same
    * TWO-PASS leftmost-non-overlapping literal replace (java.lang.String
    * .replace shares exactly the semantics of Spark's and DuckDB's
    * `replace`, including the 3+-run alternate-split behavior documented on
    * [[bpeMerges]]).
    *
    * Driver loop cost: pair counts update INCREMENTALLY — an inverted
    * occurrence index (pair → word ids) finds the words a merge touches, and
    * only those words retract + re-add their pair positions, so an iteration
    * costs O(words containing the merged pair · symbols), not O(vocab). The
    * argmax is a scan of the live pair table (selection by a total order, so
    * hash iteration order cannot leak in). Stale index entries (a pair whose
    * occurrences were merged away sideways) are skipped by a contains()
    * check at use.
    *
    * Returns (merges, final vocab) — the vocab rows are (word, symbol
    * string), i.e. exactly the trainer's final word table, which is what
    * [[bpeEncodeFast]] broadcasts.
    */
  def bpeTrainDriver(docs: DataFrame, k: Int): (Array[(Int, String, String, Long)], Array[(String, String)]) = {
    import scala.collection.mutable
    // the ONE distributed pass: corpus → (cnt, symbol string), the identical
    // projection bpeMerges' base uses
    val vocab0 = docs
      .selectExpr("explode(split(text, ' ')) AS word")
      .where("word RLIKE '^[a-z]+$'")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .selectExpr("cnt", "concat('·', regexp_replace(word, '(.)', '$1·')) AS s")
      .collect()
    val cnts = vocab0.map(_.getLong(0))
    val syms = vocab0.map(_.getString(1))
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def eachPair(s: String)(f: ((String, String)) => Unit): Unit = {
      val parts = s.split('·').filter(_.nonEmpty)
      var i = 0
      while (i < parts.length - 1) { f((parts(i), parts(i + 1))); i += 1 }
    }
    def retract(w: Int): Unit = eachPair(syms(w)) { p =>
      val nv = pairCnt(p) - cnts(w)
      if (nv == 0L) pairCnt.remove(p) else pairCnt(p) = nv
    }
    def admit(w: Int): Unit = eachPair(syms(w)) { p =>
      pairCnt(p) = pairCnt.getOrElse(p, 0L) + cnts(w)
      occ.getOrElseUpdate(p, mutable.BitSet.empty) += w
    }
    syms.indices.foreach(admit)
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var iter = 1
    var done = false
    while (iter <= k && !done) {
      var best: (String, String) = null
      var bestC = 0L
      pairCnt.foreach { case (p, c) =>
        if (best == null || c > bestC ||
            (c == bestC && (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null) done = true
      else {
        merges += ((iter, best._1, best._2, bestC))
        val pat = s"·${best._1}·${best._2}·"
        val rep = s"·${best._1}${best._2}·"
        occ.remove(best).foreach(_.foreach { w =>
          if (syms(w).contains(pat)) { // skip stale index entries
            retract(w)
            syms(w) = syms(w).replace(pat, rep).replace(pat, rep)
            admit(w)
          }
        })
        iter += 1
      }
    }
    val vocab = syms.map(s => (s.replace("·", ""), s))
    (merges.toArray, vocab)
  }

  /** [[bpeMerges]] at production k: same output schema (iter, lhs, rhs,
    * cnt), learned by the driver-side loop over the collected vocabulary
    * table — bit-identical merges (spec-pinned), one distributed job total.
    */
  def bpeMergesFast(docs: DataFrame, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _) = bpeTrainDriver(docs, k)
    if (merges.isEmpty)
      spark.createDataFrame(Seq((1, "", "", 0L))).toDF("iter", "lhs", "rhs", "cnt").where(lit(false))
    else spark.createDataFrame(merges.toSeq).toDF("iter", "lhs", "rhs", "cnt")
  }

  /** [[bpeEncode]] at production k: the post-merge vocab table (word →
    * token count) — exactly the trainer's final word table — BROADCASTS
    * onto the exploded word stream; one broadcast join + one doc-keyed
    * partial-agged sum, and k never appears in the plan (at k=32,000 the
    * replace-chain projection of [[bpeEncode]] would be a 64,000-deep
    * expression tree; here the chain cost lives in the driver loop). The
    * q_bpe_encode oracle validates this exact join shape over the whole
    * vocabulary. Same output schema as [[bpeEncode]].
    */
  def bpeEncodeFast(docs: DataFrame, k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val (_, vocab) = bpeTrainDriver(docs, k)
    val vocabDf = spark.createDataFrame(
      vocab.toSeq.map { case (w, s) => (w, s.split('·').count(_.nonEmpty).toLong) })
      .toDF("word", "toks")
    docs.selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .where("word RLIKE '^[a-z]+$'")
      .join(broadcast(vocabDf), Seq("word"))
      .groupBy("doc_id")
      .agg(sum("toks").as("bpe_tokens"), count(lit(1)).as("n_words"))
      .selectExpr("doc_id", "CAST(bpe_tokens AS BIGINT) AS bpe_tokens",
        "CAST(n_words AS BIGINT) AS n_words")
  }

  /** Apply an ALREADY-LEARNED merge list to one word (driver/executor-local;
    * the two-pass replace — [[bpeMerges]]' exact application semantics).
    * Token count of the word under the tokenizer.
    */
  def bpeApplyMerges(word: String, merges: Seq[(String, String)]): Long = {
    val sb = new java.lang.StringBuilder("·")
    var i = 0
    while (i < word.length) { sb.append(word.charAt(i)).append('·'); i += 1 }
    var s = sb.toString
    merges.foreach { case (a, b) =>
      val pat = s"·${a}·${b}·"
      if (s.contains(pat)) {
        val rep = s"·${a}${b}·"
        s = s.replace(pat, rep).replace(pat, rep)
      }
    }
    s.split('·').count(_.nonEmpty).toLong
  }

  /** Encode a (possibly DIFFERENT) corpus under a frozen tokenizer — the
    * cross-corpus production case bpeEncodeFast's same-corpus vocab table
    * cannot serve: the TARGET corpus's distinct-word table (vocab-sized by
    * Heaps' law) collapses with one partial-agged shuffle, the frozen merge
    * list (KBs) broadcasts and applies EXECUTOR-SIDE per distinct word
    * ([[bpeApplyMerges]] in a mapPartitions — at web scale the distinct
    * table can reach 10⁸ rows, so the segmentation must never collect to
    * the driver), and the resulting word → tokens table broadcasts back
    * onto the word stream. OOV words segment under whatever merges apply —
    * exactly BPE's open-vocabulary contract.
    */
  def bpeEncodeWith(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bcM = spark.sparkContext.broadcast(merges.toArray)
    val vocabDf = docs.selectExpr("explode(split(text, ' ')) AS word")
      .where("word RLIKE '^[a-z]+$'")
      .distinct()
      .as[String]
      .mapPartitions { it =>
        val ms = bcM.value.toSeq
        it.map(w => (w, bpeApplyMerges(w, ms)))
      }.toDF("word", "toks")
    docs.selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .where("word RLIKE '^[a-z]+$'")
      .join(broadcast(vocabDf), Seq("word"))
      .groupBy("doc_id")
      .agg(sum("toks").as("bpe_tokens"), count(lit(1)).as("n_words"))
      .selectExpr("doc_id", "CAST(bpe_tokens AS BIGINT) AS bpe_tokens",
        "CAST(n_words AS BIGINT) AS n_words")
  }

  /** DDSketch-style mergeable quantiles with INTEGER base-2 buckets — the
    * bounded-state companion to [[lenQuantiles]] (exact, but rank
    * arithmetic still orders the full distribution). Here each value
    * collapses to the bucket that keeps its top 4 significant bits:
    *
    *   s = max(bitlen(v) - 4, 0);  rep = (v >> s) << s
    *
    * rep is the bucket's lower bound AND its key — ~8 buckets per octave,
    * so a BIGINT range fits in ≤ ~480 buckets and a per-group sketch is a
    * few KB regardless of corpus size. The quantile answer is the first
    * rep whose cumulative count reaches rank = ceil(q·n), an UNDERESTIMATE
    * by at most one bucket width: true·(8/9) < answer ≤ true (≤ 11.1%
    * relative error, asserted in the spec). Every step — shifts, bitlen
    * via length(bin()), ceil as (q·n + 999) div 1000, window cumsum over
    * the distinct-rep order — is integer and deterministic, so the DuckDB
    * oracle replays the answers bit-for-bit (no approx_percentile
    * hand-waving).
    *
    * Scale/merge story: the sketch IS the (group, rep) count table —
    * partial-agged (counts cross the wire, never values), trivially
    * mergeable across crawl drops by adding counts, and the final window
    * runs over ≤ ~480 rows per group. Exact quantiles at 100 TB shuffle
    * the distribution; this shuffles a histogram.
    */
  def ddQuantiles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rep =
      "shiftleft(shiftright(v, greatest(length(bin(v)) - 4, 0)), greatest(length(bin(v)) - 4, 0))"
    val counts = docs
      .selectExpr("lang", s"greatest(CAST(1 AS BIGINT), $tokensExpr) AS v")
      .selectExpr("lang", s"$rep AS rep")
      .groupBy("lang", "rep").agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum("c").over(Window.partitionBy("lang").orderBy("rep")))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
    def at(qMilli: Int) =
      min(when(expr(s"cum >= ($qMilli * n + 999) div 1000"), col("rep"))).as(s"p$qMilli")
    cum.groupBy("lang").agg(at(500), at(900), at(990))
  }

  /** Bigram-LM perplexity quality signal — the CCNet-style language-model
    * filter: score each document by how surprising its bigrams are under a
    * corpus-trained bigram model with add-one smoothing,
    * p(w2|w1) = (c12 + 1) / (c1 + V). CCNet ranks documents by LM
    * perplexity and keeps the head/middle terciles; this is that signal
    * with every arithmetic step INTEGER so the DuckDB oracle replays it
    * bit-for-bit.
    *
    * Surprisal per bigram in WHOLE bits:
    *   q    = ((c1 + V) << 20) div (c12 + 1)   — q >= 2^20 since c12 <= c1
    *   bits = floor(log2 q) - 20 = length(bin(q)) - 21   — >= 0
    * Whole-bit granularity is coarse per bigram but the per-doc MEAN over
    * ~100+ bigrams (bits_milli = nll*1000 div n) resolves ~0.01 bits — far
    * finer than the tercile cut CCNet needs. bin()/shift/floor-div are
    * bit-identical on JVM, Spark SQL and DuckDB.
    *
    * Scale shape: the bigram stream is the zero-shuffle codegen'd
    * posexplode build (dsirWeights' spelling); the MODEL is trained with
    * two partial-agged count shuffles (counts, never occurrences, cross
    * the wire) and pruned to count >= minCount BEFORE broadcasting — the
    * web-scale LM-filter layout where the pruned model is MBs against a
    * corpus of TBs; scoring is two BROADCAST joins + one broadcast scalar
    * (V) on the unshuffled stream, then ONE doc-keyed partial-agged sum.
    * Overflow headroom: (c1 + V) << 20 stays under 2^63 until c1 + V
    * exceeds 8.7e12 occurrences of one prefix word.
    */
  def lmPerplexity(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val b = docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws", "posexplode(ws) AS (pos, w1)")
      .where("pos < size(ws) - 1")
      .selectExpr("doc_id", "w1", "ws[pos + 1] AS w2")
    val bigramModel = b.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12")).where(s"c12 >= $minCount")
    val prefixModel = b.groupBy("w1")
      .agg(count(lit(1)).as("c1")).where(s"c1 >= $minCount")
    // V = distinct words of the full stream, as a broadcast 1-row side so
    // the plan stays a single job (no eager driver-side count action)
    val vocabSize = docs.selectExpr("explode(split(text, ' ')) AS w")
      .agg(countDistinct($"w").as("v"))
    b.join(broadcast(bigramModel), Seq("w1", "w2"), "left")
      .join(broadcast(prefixModel), Seq("w1"), "left")
      .crossJoin(broadcast(vocabSize))
      .selectExpr("doc_id",
        "length(bin(shiftleft(coalesce(c1, CAST(0 AS BIGINT)) + v, 20) div (coalesce(c12, CAST(0 AS BIGINT)) + 1))) - 21 AS bits")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("nll_bits"))
      .selectExpr("doc_id",
        "CAST(n_bigrams AS BIGINT) AS n_bigrams",
        "CAST(nll_bits AS BIGINT) AS nll_bits",
        "(CAST(nll_bits AS BIGINT) * 1000) div CAST(n_bigrams AS BIGINT) AS bits_milli")
  }

  /** Interpolated Kneser-Ney bigram perplexity — the SMOOTHING FAMILY the
    * production LM filter actually uses (CCNet ships KenLM, and KenLM is
    * interpolated modified Kneser-Ney): where [[lmPerplexity]]'s add-one
    * smoothing over-penalizes rare-but-valid continuations, KN discounts
    * every observed bigram by a fixed D and redistributes that mass through
    * the CONTINUATION distribution — "how many distinct contexts does w2
    * follow" — which is the right novelty prior for quality filtering
    * (San Francisco: high count, low continuation diversity).
    *
    * Model, with fixed discount D = 3/4 (the textbook single-discount KN),
    * all terms exact rationals:
    *
    *   p(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · pc(w2)     c1 > 0
    *   pc(w2)   = [max(N1+(·w2) − D, 0) + D·T/V·…]  — the continuation
    *              distribution, itself KN-interpolated with uniform 1/V so
    *              every word (even one never seen as a continuation) keeps
    *              mass:  pc = (max(4·N1b − 3, 0)·V + 3·T) / (4·NBB·V)
    *   backoff (c1 = 0, e.g. pruned prefix): p = pc(w2)
    *
    * where N1b = N1+(·w2), NBB = distinct bigram types, T = distinct
    * continuation words, V = vocabulary. Over common denominators the whole
    * score is ONE integer fraction num/den with den ≤ 16·c1·NBB·V — carried
    * in DECIMAL(38,0) on Spark and HUGEINT in DuckDB, both exact 128-bit
    * integer arithmetic, so the oracle replays bit-for-bit.
    *
    * Surprisal in WHOLE bits (the [[lmPerplexity]] convention), overflow-
    * safely: qhi = den div (num·2^62) first — if the true ratio den/num
    * exceeds 2^62 this is its top half (bits = 62 + bitlen(qhi) − 1). When
    * the 2^62-shifted multiply overflows DECIMAL(38) (NULL under non-ANSI
    * semantics, exactly at num ≥ ceil(10^38/2^62) = 21684043449710088681)
    * the plain den div num arm is PROVABLY exact: den itself fits
    * DECIMAL(38) (it did not overflow), so den/num ≤ (10^38−1)/num < 2^62
    * — a hard bound from the representation, not a heuristic. The DuckDB
    * oracle branches on the same threshold literal, so both arms replay.
    * floor(log2) of a floor-quotient equals floor(log2) of the true ratio
    * for ratios ≥ 1.
    *
    * Scale shape (the lmPerplexity discipline): the bigram stream is the
    * zero-shuffle codegen'd posexplode build; model statistics are
    * partial-agged COUNT shuffles over types/occurrences (counts cross the
    * wire, occurrences never); every model table is pruned-or-vocab-sized
    * and BROADCAST onto the unshuffled stream; one doc-keyed sum ends it.
    */
  def knPerplexity(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val b = docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws", "posexplode(ws) AS (pos, w1)")
      .where("pos < size(ws) - 1")
      .selectExpr("doc_id", "w1", "ws[pos + 1] AS w2")
    // distinct bigram types with their counts — the ONE relation every KN
    // statistic derives from. localCheckpoint'd: it is vocab²-bounded (MBs
    // against a corpus of TBs) and feeds FIVE derivations — without the
    // checkpoint each would re-pay the full corpus shuffle. c1 is derived
    // from types too (Σ_w2 cAll ≡ occurrences of w1 as a prefix), so the
    // corpus is scanned exactly twice total: once for the bigram shuffle,
    // once for the vocabulary count.
    val types = b.groupBy("w1", "w2").agg(count(lit(1)).as("cAll")).localCheckpoint()
    val m2 = types.where(s"cAll >= $minCount")
      .select(col("w1"), col("w2"), col("cAll").as("c12"))
    val m1 = types.groupBy("w1").agg(sum("cAll").as("c1")).where(s"c1 >= $minCount")
    val n1fT = types.groupBy("w1").agg(count(lit(1)).as("n1f"))
    val n1bT = types.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val gl = types.agg(count(lit(1)).as("nbb"), countDistinct($"w2").as("t"))
    val vT = docs.selectExpr("explode(split(text, ' ')) AS w")
      .agg(countDistinct($"w").as("v"))
    b.join(broadcast(m2), Seq("w1", "w2"), "left")
      .join(broadcast(m1), Seq("w1"), "left")
      .join(broadcast(n1fT), Seq("w1"), "left")
      .join(broadcast(n1bT), Seq("w2"), "left")
      .crossJoin(broadcast(gl))
      .crossJoin(broadcast(vT))
      .selectExpr("doc_id",
        "coalesce(c12, CAST(0 AS BIGINT)) AS c12c",
        "coalesce(c1, CAST(0 AS BIGINT)) AS c1c",
        "coalesce(n1f, CAST(0 AS BIGINT)) AS n1fc",
        "coalesce(n1b, CAST(0 AS BIGINT)) AS n1bc",
        "nbb", "t", "v")
      .selectExpr("doc_id", "c12c", "c1c", "n1fc",
        "CAST(greatest(4 * n1bc - 3, 0) AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) + CAST(3 * t AS DECIMAL(38,0)) AS cnum",
        "CAST(4 AS DECIMAL(38,0)) * CAST(nbb AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) AS cden")
      .selectExpr("doc_id",
        "CASE WHEN c1c > 0 THEN CAST(greatest(4 * c12c - 3, 0) AS DECIMAL(38,0)) * cden + CAST(3 * n1fc AS DECIMAL(38,0)) * cnum ELSE cnum END AS num",
        "CASE WHEN c1c > 0 THEN CAST(4 * c1c AS DECIMAL(38,0)) * cden ELSE cden END AS den")
      .selectExpr("doc_id", "num", "den",
        "den div (num * CAST(4611686018427387904 AS DECIMAL(38,0))) AS qhi")
      .selectExpr("doc_id",
        "CASE WHEN qhi IS NULL OR qhi = 0 THEN length(bin(den div num)) - 1 " +
          "ELSE 62 + length(bin(qhi)) - 1 END AS bits")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("nll_bits"))
      .selectExpr("doc_id",
        "CAST(n_bigrams AS BIGINT) AS n_bigrams",
        "CAST(nll_bits AS BIGINT) AS nll_bits",
        "(CAST(nll_bits AS BIGINT) * 1000) div CAST(n_bigrams AS BIGINT) AS bits_milli")
  }

  /** Interpolated Kneser-Ney TRIGRAM perplexity — [[knPerplexity]] grown
    * one order (KenLM's default is order-5 of exactly this recursion; the
    * trigram shows the full chain): highest order uses RAW counts, every
    * lower order uses CONTINUATION counts, each level discounted by the
    * same fixed D = 3/4 and interpolated with the level below:
    *
    *   p3(w3|w1w2) = max(c123−D,0)/c12 + (D·N1+(w1w2·)/c12)·p2(w3|w2)   c12>0
    *                 p2(w3|w2)                                    (backoff)
    *   p2(w3|w2)   = [max(N1+(·w2w3)−D,0) + D·N1+(w2·)·pc(w3)] / N1+(·w2·)
    *                 (N1+(·w2·)=0 → pc(w3))
    *   pc(w3)      = the [[knPerplexity]] continuation-unigram, uniform-
    *                 interpolated: (max(4·N1b−3,0)·V + 3·T) / (4·NBB·V)
    *
    * where all N1+ statistics are TYPE counts off the trigram type table
    * (N1+(·w2w3) = distinct predecessors of the bigram, N1+(·w2·) = types
    * with w2 in the middle, N1+(w2·) = distinct followers) and the
    * unigram level reuses the bigram-type stats. Over common denominators
    * the score is ONE exact rational, den ≤ 64·c12·N1mid·NBB·V — DECIMAL
    * (38,0) on Spark, HUGEINT in DuckDB, bit-exact replay; surprisal via
    * the identical overflow-safe 2^62 split (both arms provably exact at
    * the same threshold literal).
    *
    * Scale shape unchanged from [[knPerplexity]]: zero-shuffle trigram
    * stream, type-table COUNT shuffles only (the trigram type table is the
    * one new relation, localCheckpoint'd for its five derivations), every
    * model table pruned-or-type-bounded and broadcast, one doc-keyed sum.
    */
  def knTrigramPerplexity(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tri = docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws", "posexplode(ws) AS (pos, w1)")
      .where("pos < size(ws) - 2")
      .selectExpr("doc_id", "w1", "ws[pos + 1] AS w2", "ws[pos + 2] AS w3")
    val t3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("cAll")).localCheckpoint()
    val m3 = t3.where(s"cAll >= $minCount")
      .select(col("w1"), col("w2"), col("w3"), col("cAll").as("c123"))
    val m12 = t3.groupBy("w1", "w2")
      .agg(sum("cAll").as("c12"), count(lit(1)).as("n1f12"))
      .where(s"c12 >= $minCount")
    val mid = t3.groupBy("w2")
      .agg(count(lit(1)).as("n1mid"), countDistinct($"w3").as("n1f2"))
    val n1cT = t3.groupBy("w2", "w3").agg(count(lit(1)).as("n1c"))
    // unigram-continuation level off the BIGRAM types — knPerplexity's stats
    val ty2 = docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("ws", "posexplode(ws) AS (pos, u1)")
      .where("pos < size(ws) - 1")
      .selectExpr("u1", "ws[pos + 1] AS u2")
      .groupBy("u1", "u2").agg(count(lit(1)).as("c2")).localCheckpoint()
    val n1bT = ty2.groupBy("u2").agg(count(lit(1)).as("n1b"))
      .withColumnRenamed("u2", "w3")
    val gl = ty2.agg(count(lit(1)).as("nbb"), countDistinct($"u2").as("t"))
    val vT = docs.selectExpr("explode(split(text, ' ')) AS w")
      .agg(countDistinct($"w").as("v"))
    tri.join(broadcast(m3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(m12), Seq("w1", "w2"), "left")
      .join(broadcast(mid), Seq("w2"), "left")
      .join(broadcast(n1cT), Seq("w2", "w3"), "left")
      .join(broadcast(n1bT), Seq("w3"), "left")
      .crossJoin(broadcast(gl))
      .crossJoin(broadcast(vT))
      .selectExpr("doc_id",
        "coalesce(c123, CAST(0 AS BIGINT)) AS c123c",
        "coalesce(c12, CAST(0 AS BIGINT)) AS c12c",
        "coalesce(n1f12, CAST(0 AS BIGINT)) AS n1f12c",
        "coalesce(n1mid, CAST(0 AS BIGINT)) AS n1midc",
        "coalesce(n1f2, CAST(0 AS BIGINT)) AS n1f2c",
        "coalesce(n1c, CAST(0 AS BIGINT)) AS n1cc",
        "coalesce(n1b, CAST(0 AS BIGINT)) AS n1bc",
        "nbb", "t", "v")
      .selectExpr("doc_id", "c123c", "c12c", "n1f12c", "n1midc", "n1f2c", "n1cc",
        "CAST(greatest(4 * n1bc - 3, 0) AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) + CAST(3 * t AS DECIMAL(38,0)) AS cnum",
        "CAST(4 AS DECIMAL(38,0)) * CAST(nbb AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) AS cden")
      .selectExpr("doc_id", "c123c", "c12c", "n1f12c",
        "CASE WHEN n1midc > 0 THEN CAST(greatest(4 * n1cc - 3, 0) AS DECIMAL(38,0)) * cden + CAST(3 * n1f2c AS DECIMAL(38,0)) * cnum ELSE cnum END AS p2num",
        "CASE WHEN n1midc > 0 THEN CAST(4 * n1midc AS DECIMAL(38,0)) * cden ELSE cden END AS p2den")
      .selectExpr("doc_id",
        "CASE WHEN c12c > 0 THEN CAST(greatest(4 * c123c - 3, 0) AS DECIMAL(38,0)) * p2den + CAST(3 * n1f12c AS DECIMAL(38,0)) * p2num ELSE p2num END AS num",
        "CASE WHEN c12c > 0 THEN CAST(4 * c12c AS DECIMAL(38,0)) * p2den ELSE p2den END AS den")
      .selectExpr("doc_id", "num", "den",
        "den div (num * CAST(4611686018427387904 AS DECIMAL(38,0))) AS qhi")
      .selectExpr("doc_id",
        "CASE WHEN qhi IS NULL OR qhi = 0 THEN length(bin(den div num)) - 1 " +
          "ELSE 62 + length(bin(qhi)) - 1 END AS bits")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum("bits").as("nll_bits"))
      .selectExpr("doc_id",
        "CAST(n_trigrams AS BIGINT) AS n_trigrams",
        "CAST(nll_bits AS BIGINT) AS nll_bits",
        "(CAST(nll_bits AS BIGINT) * 1000) div CAST(n_trigrams AS BIGINT) AS bits_milli")
  }

  /** Query-biased SNIPPET selection — the serving-side counterpart of
    * [[bm25TopDocs]]/[[queryLikelihoodTopDocs]]: once docs are ranked, the
    * result page shows the best PASSAGE, defined here as the LEFTMOST
    * `window`-word span maximizing query-term hits (the deterministic form
    * of every search engine's keyword-in-context snippet; leftmost ties =
    * earliest mention wins, the standard convention). Docs with zero hits
    * are dropped (no snippet to show).
    *
    * Pure zero-shuffle codegen-friendly projection: hit positions come
    * from an indexed `transform`+`filter` over the split words; candidate
    * windows only START at hit positions (the max-hit window property), so
    * the per-doc cost is O(hits²) worst case with hits ≪ words — never a
    * corpus-wide window function. Every step is integer/array arithmetic,
    * replayed relationally (zip-unnest + a RANGE-framed count) in DuckDB.
    */
  def snippets(docs: DataFrame, terms: Seq[String], window: Int = 10): DataFrame = {
    require(terms.nonEmpty, "snippets: need at least one query term")
    // terms are user/corpus-derived strings — escape before interpolating
    // into the SQL literal list (an apostrophe would otherwise break the
    // expression, and crafted input could inject expression text)
    val termList = terms
      .map(t => "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString(", ")
    docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws",
        s"filter(transform(ws, (x, i) -> CASE WHEN x IN ($termList) THEN i END), x -> x IS NOT NULL) AS hits")
      .where("size(hits) > 0")
      .selectExpr("doc_id", "ws", "hits",
        s"transform(hits, h -> size(filter(hits, x -> x >= h AND x < h + $window))) AS cnts")
      .selectExpr("doc_id", "ws", "hits", "cnts",
        "array_position(cnts, array_max(cnts)) AS bi")
      .selectExpr("doc_id",
        "CAST(element_at(hits, CAST(bi AS INT)) AS BIGINT) AS start_word",
        "CAST(array_max(cnts) AS BIGINT) AS n_hits",
        s"array_join(slice(ws, CAST(element_at(hits, CAST(bi AS INT)) AS INT) + 1, $window), ' ') AS snippet")
  }

  /** CCNet's head/middle/tail PERPLEXITY TERCILES — the selection step the
    * LM filter exists for: per language, rank documents by LM surprisal
    * and cut at 1/3 and 2/3 (CCNet trains on head+middle and drops tail;
    * the bucket label is the published CCNet metadata field). Exact
    * integer rank arithmetic — bucket = head iff 3·rank ≤ n, middle iff
    * 3·rank ≤ 2n — so the boundaries are deterministic (ties broken by
    * doc_id) and the DuckDB replay is bit-exact.
    *
    * Scale shape: rides [[lmPerplexity]]'s score (already doc-keyed);
    * the rank and the per-lang count share ONE lang-keyed exchange (two
    * window functions over the same partition key).
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ppl = lmPerplexity(docs).join(docs.select("doc_id", "lang"), "doc_id")
    val byLang = Window.partitionBy("lang")
    val ranked = Window.partitionBy("lang").orderBy(col("bits_milli"), col("doc_id"))
    ppl
      .withColumn("rnk", row_number().over(ranked).cast("long"))
      .withColumn("n", count(lit(1)).over(byLang))
      .selectExpr("doc_id", "lang", "bits_milli",
        "CASE WHEN 3 * rnk <= n THEN 'head' WHEN 3 * rnk <= 2 * n THEN 'middle' ELSE 'tail' END AS bucket")
  }

  /** Linear quality-classifier inference — the model-based filtering stage
    * (fastText-style quality classifier / FineWeb-Edu scorer shape): each
    * doc gets score = w · features with a PER-LANGUAGE weight vector.
    *
    * The shipped weight set ([[qualityWeights]]) is a real trained model:
    * per-language logistic regression over (tokens, chars, stopword count),
    * trained deterministically by graft.tools.QualityTrain against
    * spam/near-empty corruption negatives and checked in as a resource
    * (held-out accuracy floor spec-pinned). The inference plumbing is the
    * production shape a bigger model swaps into: integer feature projection
    * (codegen'd, zero shuffle), the model as a BROADCAST join keyed by
    * language (a real model table is KBs×langs — never shuffle the corpus
    * for it), dot product as a codegen'd expression, and a threshold gate.
    * All-integer arithmetic → the DuckDB oracle reproduces scores
    * bit-exactly.
    */
  def qualityModelScore(docs: DataFrame, weights: DataFrame, threshold: Long): DataFrame = {
    val feats = docs.selectExpr(
      "doc_id", "lang",
      s"$tokensExpr AS f_tokens",
      "CAST(length(text) AS BIGINT) AS f_chars",
      s"${markerExpr("the")} AS f_stop")
    feats
      .join(broadcast(weights), Seq("lang"))
      .selectExpr("doc_id", "lang",
        "w_bias + w_tokens * f_tokens + w_chars * f_chars + w_stop * f_stop AS score")
      .selectExpr("doc_id", "lang", "CAST(score AS BIGINT) AS score",
        s"CAST(CASE WHEN score >= $threshold THEN 1 ELSE 0 END AS INTEGER) AS pass")
  }

  /** The shipped quality-model weight table — trained per-language logistic
    * regression (graft.tools.QualityTrain; scale 10^4, decision threshold
    * 0), loaded from the checked-in resource. Rerun the trainer to
    * regenerate; [[qualityModelScore]] broadcasts this.
    */
  def qualityWeights(spark: SparkSession): DataFrame =
    spark.createDataFrame(qualityWeightRows)
      .toDF("lang", "w_bias", "w_tokens", "w_chars", "w_stop")

  /** The raw resource rows (lang, w_bias, w_tokens, w_chars, w_stop) —
    * shared by the DataFrame loader and the oracle-SQL VALUES inliner.
    */
  lazy val qualityWeightRows: Seq[(String, Long, Long, Long, Long)] = {
    val in = getClass.getResourceAsStream("/graft/quality_weights.tsv")
    require(in != null, "missing resource graft/quality_weights.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val a = l.split('\t')
        (a(0), a(1).toLong, a(2).toLong, a(3).toLong, a(4).toLong)
      }.toList
    finally src.close()
  }

  /** The shipped Cavnar–Trenkle language profiles (lang, rank, trigram) —
    * trained deterministically by `graft.tools.LangProfileTrain` from
    * per-language function-word pools (see that tool's doc for why the
    * `documents` table itself cannot train this). Shared by the DataFrame
    * loader and the oracle-SQL VALUES inliner.
    */
  lazy val langProfileRows: Seq[(String, Int, String)] = {
    val in = getClass.getResourceAsStream("/graft/lang_profiles.tsv")
    require(in != null, "missing resource graft/lang_profiles.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val a = l.split('\t'); (a(0), a(1).toInt, a(2)) }.toList
    finally src.close()
  }

  def langProfiles(spark: SparkSession): DataFrame =
    spark.createDataFrame(langProfileRows).toDF("lang", "rank", "tri")

  /** N-GRAM language ID (Cavnar & Trenkle 1994 — the real model behind
    * every classic langid tool): rank the document's top-`k` character
    * trigrams by frequency, score each language profile by the OUT-OF-PLACE
    * distance (Σ |doc rank − profile rank|, missing trigram → `k`), and
    * take the minimum (ties break on language code — fully deterministic).
    * All-integer, so the whole pipeline — extraction, ranking, distance,
    * argmin — replays bit-exactly as the DuckDB oracle.
    *
    * Scale shape: trigram explosion is a narrow `transform(sequence)`
    * projection; the count + rank share ONE doc-keyed exchange (window over
    * the aggregation); profiles broadcast (≤ langs·k rows); the per-(doc,
    * lang) distance sum partial-aggregates; the argmin is a
    * `min(struct(score, lang))`. The corpus text never shuffles — only
    * (doc, trigram, rank) triples capped at `k` per doc.
    */
  def langIdNgram(docs: DataFrame, profiles: DataFrame, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = docs.selectExpr("doc_id",
        "explode(CASE WHEN length(text) < 3 THEN array(text) ELSE " +
          "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) END) AS tri")
      .groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
      .withColumn("doc_rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("tri"))))
      .where(col("doc_rank") <= k)
    val langs = profiles.select("lang").distinct()
    ranked.crossJoin(broadcast(langs))
      .join(broadcast(profiles), Seq("lang", "tri"), "left")
      .selectExpr("doc_id", "lang",
        s"CAST(CASE WHEN rank IS NULL THEN $k ELSE abs(doc_rank - rank) END AS BIGINT) AS d")
      .groupBy("doc_id", "lang").agg(sum("d").as("score"))
      .groupBy("doc_id")
      .agg(min(struct(col("score"), col("lang"))).as("m"))
      .selectExpr("doc_id", "m.lang AS pred_lang")
  }

  /** IN-ENGINE distributed classifier training — the companion to
    * [[qualityModelScore]]'s inference path: a batch perceptron
    * (Rosenblatt update, full-batch variant) over the same integer feature
    * projection, trained with `iters` synchronous rounds:
    *
    *   margin_i = y_i · (w · x_i + b)
    *   w ← w + Σ_{margin_i ≤ 0} y_i · x_i ;  b ← b + Σ_{margin_i ≤ 0} y_i
    *
    * The full-batch update is what makes training DISTRIBUTED-DETERMINISTIC:
    * the per-round delta is one commutative integer sum over the corpus
    * (partial-aggregated map-side, any partitioning, any executor count —
    * unlike the sequential per-example perceptron, whose result depends on
    * visit order), so a DuckDB unrolling of the rounds is bit-exact.
    *
    * Scale shape (the parameter-server-free pattern every distributed
    * linear trainer uses — MLlib's treeAggregate does exactly this): the
    * feature projection is computed ONCE (codegen'd, zero shuffle) and
    * persisted; each round is ONE partial-aggregated reduction producing a
    * single O(features) row, consumed via a broadcast crossJoin into the
    * next round's margin expression — the corpus never re-shuffles, no
    * driver-side collect of anything bigger than the weight vector's
    * lineage. Label: `lang == posLang` (the language-ID training task; any
    * deterministic labeling column slots in).
    *
    * Overflow: |x| ≤ chars/doc ≤ 10^6, |Δw| ≤ N·|x| per round — at 10^12
    * docs the BIGINT bound needs feature scaling (divide the delta by a
    * fixed N-scale before applying), which `deltaShift` provides (default 0
    * = raw Rosenblatt — the oracle-replayed form; nonzero shifts stay
    * deterministic but truncate negative deltas toward zero, Spark `div`
    * semantics).
    *
    * Output: 5 rows (feature, value) — the 3 weights, bias, and the final
    * misclassified count over the training set.
    */
  def perceptronTrain(docs: DataFrame, posLang: String = "en", iters: Int = 3,
                      deltaShift: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val feats = docs.selectExpr(
      "doc_id",
      s"CAST(CASE WHEN lang = '$posLang' THEN 1 ELSE -1 END AS BIGINT) AS y",
      s"$tokensExpr AS x1",
      "CAST(length(text) AS BIGINT) AS x2",
      s"${markerExpr("the")} AS x3")
      .persist()
    var w = spark.createDataFrame(Seq((0L, 0L, 0L, 0L)))
      .toDF("wt", "wc", "ws", "b")
    val marginE = "y * (wt * x1 + wc * x2 + ws * x3 + b)"
    var i = 0
    while (i < iters) {
      val delta = feats.crossJoin(broadcast(w))
        .where(s"$marginE <= 0")
        .selectExpr("y", "x1", "x2", "x3")
        .agg(
          coalesce(sum(expr("y * x1")), lit(0L)).as("dt"),
          coalesce(sum(expr("y * x2")), lit(0L)).as("dc"),
          coalesce(sum(expr("y * x3")), lit(0L)).as("ds"),
          coalesce(sum(col("y")), lit(0L)).as("db"))
      w = w.crossJoin(broadcast(delta)).selectExpr(
        s"wt + (dt div ${1L << deltaShift}L) AS wt",
        s"wc + (dc div ${1L << deltaShift}L) AS wc",
        s"ws + (ds div ${1L << deltaShift}L) AS ws",
        s"b + (db div ${1L << deltaShift}L) AS b")
        .localCheckpoint() // O(1)-deep lineage; one reduction job per round
      i += 1
    }
    val errs = feats.crossJoin(broadcast(w))
      .agg(coalesce(sum(expr(s"CASE WHEN $marginE <= 0 THEN 1L ELSE 0L END")), lit(0L)).as("v"))
      .localCheckpoint() // materialize before the feature cache drops
    val out = w.selectExpr("'w_tokens' AS feature", "wt AS value")
      .unionAll(w.selectExpr("'w_chars'", "wc"))
      .unionAll(w.selectExpr("'w_stop'", "ws"))
      .unionAll(w.selectExpr("'bias'", "b"))
      .unionAll(errs.selectExpr("'errors'", "v"))
    feats.unpersist()
    out
  }

  /** C4-style blocked-word content filter: drop documents containing any
    * word from a block list. The list compiles into ONE regex alternation
    * evaluated as a codegen'd zero-shuffle projection — no UDF, no join;
    * the pattern is a literal in the plan, so a 10^12-doc scan pays one
    * compiled automaton per task. Word-boundary semantics via the
    * space-padding idiom (markerExpr's convention) — no backslash classes,
    * so the IDENTICAL pattern string runs on Java regex and RE2, and the
    * leftmost match is the same on both (no block word may prefix another;
    * require'd).
    *
    * Output: (doc_id, matched — first blocked word or '', keep bit).
    */
  def contentFilter(docs: DataFrame, blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty && blocked.forall(_.matches("[A-Za-z0-9]+")),
      "plain alphanumeric block words only (regex-safe on both engines)")
    require(!blocked.combinations(2).exists(p => p(1).startsWith(p(0)) || p(0).startsWith(p(1))),
      "no block word may prefix another (leftmost-match parity)")
    val pat = s" (${blocked.mkString("|")}) "
    docs.selectExpr(
      "doc_id",
      s"regexp_extract(concat(' ', text, ' '), '$pat', 1) AS matched",
      s"CAST(CASE WHEN regexp_extract(concat(' ', text, ' '), '$pat', 1) = '' THEN 1 ELSE 0 END AS INTEGER) AS keep")
  }

  /** Token-budget corpus selection: keep the highest-scored documents until
    * the cumulative token budget is spent (greedy fill — the last kept doc
    * may overshoot) — the data-mixing primitive behind "train on the best
    * N billion tokens".
    *
    * The naive spelling is `sum(n_tokens) OVER (ORDER BY score DESC)` — an
    * unpartitioned window that funnels the whole corpus through ONE task
    * (Spark even warns). This is the scalable shape: range-repartition on
    * the sort key, per-partition LOCAL prefix sums, per-partition totals to
    * the driver (numPartitions longs — bytes), exclusive offsets broadcast
    * back. Every stage stays parallel; partitions whose offset already
    * exceeds the budget emit nothing without being consumed. Two passes
    * over one shuffle (Spark reuses the exchange across the actions).
    */
  def selectByTokenBudget(docs: DataFrame, budget: Long, parts: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    // materialize the sorted layout as ONE RDD lineage: the two passes must
    // observe the IDENTICAL partitioning, and two separate Dataset actions
    // are re-planned independently (AQE may coalesce the range shuffle
    // differently per action, silently misaligning the offsets — observed
    // at sf0.01). An RDD's partitioning is fixed at definition; this is the
    // genuinely-imperative-per-partition case where dropping below the
    // DataFrame API is the correct tool.
    val rdd = docs
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "CAST(score AS BIGINT) AS score",
        "CAST(n_tokens AS BIGINT) AS n_tokens")
      .repartitionByRange(n, col("score").desc, col("doc_id"))
      .sortWithinPartitions(col("score").desc, col("doc_id"))
      .as[(Long, Long, Long)]
      .rdd
    val nParts = rdd.getNumPartitions
    // pass 1: per-partition token totals (nParts longs to the driver)
    val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(s += _._3); Iterator((pid, s))
    }.collect().toMap
    // exclusive prefix offsets: offset(p) = tokens in all partitions before p
    // (partition 0 holds the highest scores under the desc range order)
    val offsets = new Array[Long](nParts)
    var acc = 0L
    var p = 0
    while (p < nParts) { offsets(p) = acc; acc += totals.getOrElse(p, 0L); p += 1 }
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2: local prefix sum + broadcast offset; keep while cum-before < budget
    val kept = rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bc.value(pid)
      if (cum >= budget) Iterator.empty
      else it.flatMap { case (id, sc, nt) =>
        val before = cum
        cum += nt
        if (before < budget) Iterator((id, sc, nt, before + nt)) else Iterator.empty
      }
    }
    spark.createDataFrame(kept).toDF("doc_id", "score", "n_tokens", "cum_tokens")
  }

  /** Deterministic training-shard assignment + per-shard manifest — the
    * file-level handoff from curation to the training loader: every doc
    * maps to one of `nShards` shards by the repo's standard md5 permille
    * idiom (a PURE function of doc_id — assignment is reproducible across
    * runs/engines and balanced in expectation), and the manifest row per
    * shard carries the counts a loader checks before streaming (n_docs,
    * n_tokens, n_chars). Zero-shuffle assignment; ONE shard-keyed
    * partial-agged aggregation for the manifest.
    */
  def shardManifest(docs: DataFrame, nShards: Int = 8): DataFrame = {
    val bucket = s"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    docs.selectExpr("doc_id", "text", s"$bucket % $nShards AS shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr(tokensExpr)).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .selectExpr("CAST(shard AS BIGINT) AS shard", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_tokens AS BIGINT) AS n_tokens", "CAST(n_chars AS BIGINT) AS n_chars")
  }

  /** Materialize the shards: gzip JSONL files partitioned by shard id (the
    * layout a data loader consumes: dir/shard=K/part-*.json.gz) plus the
    * manifest as one TSV-ish parquet. The repartition keys the write so a
    * shard's rows land in one file; at 100 TB nShards scales with the
    * corpus and each writer task streams one shard.
    */
  def writeTrainingShards(docs: DataFrame, dir: String, nShards: Int = 8): DataFrame = {
    val bucket = s"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    val sharded = docs.selectExpr("doc_id", "text", s"$bucket % $nShards AS shard")
    sharded.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .option("compression", "gzip").json(s"$dir/shards")
    val manifest = shardManifest(docs, nShards)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
    manifest
  }

  /** SLIDING-WINDOW CHUNKING (the RAG / long-context training-segment
    * shape): split each document into word-granular windows of `window`
    * tokens advancing by `stride` (stride < window → overlapping chunks, a
    * retrieval index's usual form; stride == window → disjoint packing).
    * Emits (doc_id, chunk_id, n_tokens, chunk). The last window is the
    * remainder (never empty, never past the end); a doc shorter than one
    * window is a single chunk. Pure per-row projection — zero shuffle,
    * codegen'd split + slice + array_join, linear at any corpus size.
    */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkDocs: need 0 < stride <= window, got window=$window stride=$stride")
    // chunk starts: 0, stride, 2*stride, ... while start < nWords, but a
    // start whose window would be a pure suffix of the previous window's
    // coverage is dropped — i.e. starts while start == 0 OR start + ...
    // the standard rule: last chunk starts at the largest multiple of
    // stride < nWords (remainder chunk), so every word is covered >= once
    docs.selectExpr(
        s"`$idCol` AS doc_id",
        s"split(`$textCol`, ' ') AS __w")
      .selectExpr("doc_id", "__w",
        // number of chunks: ceil(max(nWords - window, 0) / stride) + 1
        s"CAST(ceil(greatest(size(__w) - $window, 0) / $stride) + 1 AS INT) AS __n")
      .selectExpr("doc_id",
        s"posexplode(transform(sequence(0, __n - 1), " +
          s"i -> array_join(slice(__w, i * $stride + 1, $window), ' ')))")
      .selectExpr("doc_id", "CAST(pos AS BIGINT) AS chunk_id",
        "CAST(size(split(col, ' ')) AS BIGINT) AS n_tokens", "col AS chunk")
  }

  /** Deterministic EPOCH SHUFFLE: the seeded pseudorandom training-order
    * permutation every data loader needs — order key = md5(seed ":" id),
    * shard = first-8-hex-nibbles mod nShards (the repo's standard bucket
    * idiom), pos = rank of the key within the shard. Changing the seed
    * re-permutes the whole corpus; re-running the same seed reproduces the
    * exact order on any engine (md5 is the randomness — no RNG state, no
    * partition-order dependence, unlike `orderBy(rand(seed))` whose
    * sampling is partition-layout-dependent).
    *
    * Scale shape: ONE hash shuffle into nShards groups + an external sort
    * per shard (row_number streams the sorted run, O(1) memory per task) —
    * the minimum any global permutation costs. nShards scales with the
    * corpus so each shard's sort fits an executor's spill budget.
    */
  def epochShuffle(docs: DataFrame, seed: Long, nShards: Int,
                   idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, s"epochShuffle: nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(s"$seed:"), col(idCol).cast("string")))
    docs.select(col(idCol), key.as("__k"))
      .withColumn("shard",
        expr("CAST(conv(substr(__k, 1, 8), 16, 10) AS BIGINT)") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol))).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

}
