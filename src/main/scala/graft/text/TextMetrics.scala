package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language ID (stopword heuristic), and document fingerprinting.
  * Everything is built from codegen'd built-ins (split/length/md5/…);
  * no UDFs, so plans stay inside whole-stage codegen at any scale.
  */
object TextMetrics {

  /** Small language-marker stopword lists for the n-gram/stopword
    * language-ID heuristic. Deterministic and self-contained. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def tokenArr(text: Column): Column = split(text, " ")

  /** BPE-ish subword-token regex: one match per letter run, digit run, or
    * punctuation run, each optionally absorbing one leading space — the
    * shape of GPT-2-family pre-tokenizers, reduced to character classes
    * that mean the same thing in Java regex and RE2 (so the DuckDB oracle
    * can run the identical pattern). A whitespace token count under-counts
    * LLM tokens badly on punctuation-heavy text; this is the standard
    * cheap estimator. */
  val BpeishPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Estimated LLM token count: number of [[BpeishPattern]] matches. */
  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  /** Per-document quality metrics: token/char counts, average token length,
    * unique-token (type/token) ratio, stopword ratio — the reference-style
    * length/stopword quality gates for corpus filtering.
    *
    * Stopword hits count via explode + broadcast stopword dim +
    * conditional aggregation (the [[languageId]] pattern): the previous
    * per-word `filter(tokens, …)` higher-order functions evaluated
    * interpreted, re-split the text once per reference, and pushed the
    * whole projection out of whole-stage codegen. */
  def metrics(df: DataFrame, id: String, text: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stopDim = broadcast(
      LangMarkers.toMap.apply("en").toDF("__stop"))
    val hits = df.select(col(id), explode(tokenArr(col(text))).as("__tok"))
      .join(stopDim, col("__tok") === col("__stop"))
      .groupBy(col(id)).agg(count(lit(1)).as("__hits"))
    val toks = tokenArr(col(text))
    val nTok = size(toks)
    df.select(
        col(id),
        length(col(text)).cast("long").as("n_chars"),
        nTok.cast("long").as("n_tokens"),
        tokenCountBpeish(col(text)).as("n_tokens_bpeish"),
        size(array_distinct(toks)).cast("long").as("n_unique_tokens"),
        round((length(col(text)) - nTok + 1).cast("double") / nTok, 4).as("avg_token_len"),
        round(size(array_distinct(toks)).cast("double") / nTok, 4).as("type_token_ratio"))
      .join(hits, Seq(id), "left")
      .na.fill(0L, Seq("__hits"))
      .select(col(id), col("n_chars"), col("n_tokens"), col("n_tokens_bpeish"),
        col("n_unique_tokens"), col("avg_token_len"), col("type_token_ratio"),
        col("__hits").as("stopword_hits"),
        round(col("__hits").cast("double") / col("n_tokens"), 4).as("stopword_ratio"))
  }

  /** Language ID: score each candidate language by marker-stopword hits,
    * pick the max (ties → lexicographically first language; all-zero →
    * "und" undetermined).
    *
    * Scored as ONE pass: explode tokens, equi-join the broadcast marker
    * dimension, conditional-sum per language. The per-marker
    * `filter(tokens, …)` form this replaces ran 25 higher-order-function
    * scans per row — HOFs evaluate interpreted and push the whole
    * projection out of whole-stage codegen. The join form is all
    * codegen'd operators, does map-side partial aggregation, and at scale
    * is the classic broadcast-dim pattern. Zero-hit docs re-enter via a
    * left join and classify as "und". */
  def languageId(df: DataFrame, id: String, text: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val markers = broadcast(
      LangMarkers.flatMap { case (l, ws) => ws.map(w => (l, w)) }
        .toDF("__lang", "__tok"))
    val hits = df.select(col(id), explode(tokenArr(col(text))).as("__tok"))
      .join(markers, "__tok")
    val scoreAggs = LangMarkers.map { case (lang, _) =>
      sum(when(col("__lang") === lang, 1L).otherwise(0L)).as(s"__s_$lang")
    }
    val counts = hits.groupBy(col(id)).agg(scoreAggs.head, scoreAggs.tail: _*)
    val scored = df.select(col(id)).join(counts, Seq(id), "left")
      .na.fill(0L, LangMarkers.map { case (lang, _) => s"__s_$lang" })
    val m = greatest(LangMarkers.map { case (lang, _) => col(s"__s_$lang") }: _*)
    val pick = LangMarkers.foldLeft(when(m === 0L, "und")) {
      case (acc, (lang, _)) => acc.when(col(s"__s_$lang") === m, lang)
    }
    scored.select(col(id), pick.as("predicted_lang"), m.as("marker_hits"))
  }

  /** In-document repetition signals — the Gopher-style repetition
    * filters a corpus pipeline gates on before training:
    *   - `top2gram_frac` / `top3gram_frac`: fraction of the doc's tokens
    *     covered by occurrences of its MOST FREQUENT word {2,3}-gram
    *     (count × n / n_tokens; sliding windows overlap, so heavily
    *     repetitive docs can exceed 1 — it is a score, not a share);
    *   - `dup5gram_frac`: fraction of 5-gram occurrences that repeat an
    *     earlier occurrence (1 − distinct/total).
    *
    * All counts come from ONE `mapPartitions` pass per document — n-gram
    * streams never shuffle (repetition filtering is per-doc, i.e.
    * embarrassingly parallel; an explode + groupBy form would exchange
    * the full n-gram stream for nothing). The fractions are assembled as
    * Catalyst `round(…, 6)` columns so rounding parity with the DuckDB
    * oracle follows the registry convention. Token semantics match
    * `split(text, " ")` / DuckDB `string_split` (limit −1 keeps trailing
    * empties); null-id/null-text rows are dropped like the dedup kernels. */
  def repetition(df: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val idType = df.schema(id).dataType
    val outSchema = StructType(Seq(
      StructField(id, idType),
      StructField("n_tokens", LongType, nullable = false),
      StructField("__top2", LongType, nullable = false),
      StructField("__top3", LongType, nullable = false),
      StructField("__g5", LongType, nullable = false),
      StructField("__g5d", LongType, nullable = false)))
    val counted = df.select(col(id), col(text)).mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val toks = r.getString(1).split(" ", -1)
          Iterator.single(Row(r.get(0), toks.length.toLong,
            topNgramCount(toks, 2), topNgramCount(toks, 3),
            math.max(toks.length - 4, 0).toLong, distinctNgrams(toks, 5)))
        }
      }
    }(Encoders.row(outSchema))
    counted.select(
      col(id),
      col("n_tokens"),
      round((col("__top2") * 2).cast("double") / col("n_tokens"), 6)
        .as("top2gram_frac"),
      round((col("__top3") * 3).cast("double") / col("n_tokens"), 6)
        .as("top3gram_frac"),
      when(col("__g5") === 0L, lit(0.0))
        .otherwise(round((col("__g5") - col("__g5d")).cast("double") / col("__g5"), 6))
        .as("dup5gram_frac"))
  }

  /** Count of the most frequent word n-gram of `toks` (0 when the doc is
    * shorter than n tokens). */
  private def topNgramCount(toks: Array[String], n: Int): Long = {
    val m = toks.length - n + 1
    if (m <= 0) 0L
    else {
      val hm = new java.util.HashMap[String, Integer](m * 2)
      val sb = new java.lang.StringBuilder
      var best = 0
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
        val c = hm.merge(sb.toString, 1, (a: Integer, b: Integer) => a + b)
        if (c > best) best = c
        i += 1
      }
      best.toLong
    }
  }

  /** Number of DISTINCT word n-grams of `toks`. */
  private def distinctNgrams(toks: Array[String], n: Int): Long = {
    val m = toks.length - n + 1
    if (m <= 0) 0L
    else {
      val hs = new java.util.HashSet[String](m * 2)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) { if (k > 0) sb.append(' '); sb.append(toks(i + k)); k += 1 }
        hs.add(sb.toString)
        i += 1
      }
      hs.size.toLong
    }
  }

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set (bag-of-words identity), plus the raw-text md5. */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame =
    df.select(
      col(id),
      md5(col(text)).as("text_md5"),
      md5(array_join(array_sort(array_distinct(tokenArr(col(text)))), " "))
        .as("bow_md5"))
}
