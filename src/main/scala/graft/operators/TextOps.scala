package graft.operators

import graft.{QueryModule, Tbl}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis surface for the LLM-training-data mandate (builder
  * prompt; SURVEY.md "Mandate beyond the reference"): token counting,
  * quality scoring, language-ID heuristic, document fingerprinting — all
  * over the `documents` table.
  *
  * Everything is pure column expressions (whole-stage codegen, no UDFs,
  * no shuffle except final sort): at 100 TB these are embarrassingly
  * parallel per-document maps, so per-row cost is the only thing that
  * matters — each query is a single scan + project.
  *
  * Determinism: counts and md5 fingerprints are exact; ratios are single
  * double divisions of exact longs, rounded to 6.
  */
object TextOps extends QueryModule {

  import TextNorm.{norm, normSql}

  private val stop = Seq("the", "a", "of", "and", "in", "to", "is")
  private val stopSqlList = stop.map(w => s"'$w'").mkString("(", ",", ")")

  // Whole-token counts, token counts, and char-class counts all come
  // from the TextStats native kernels (TextStats.scala): one byte loop
  // per row, no regex, no interpreted lambda. Two prior formulations
  // are recorded in git history — size(filter(words, In)) (HOF,
  // interpreted per token) and the space-doubled literal
  // replace-and-measure — both ultimately bottlenecked on
  // java.util.regex char-class scans in norm() itself, which measure
  // 40× slower than a byte loop and ANTI-scale under concurrency on
  // this host (TextStats.scala header; quiet-box sf100p walls were
  // tx_quality_score 627 s / tx_lang_id 293 s either way). The kernels
  // are bit-identical (TextStatsSpec), so every DuckDB oracle keeps
  // the regex/list_filter arithmetic.
  private def stopVocab: Seq[(String, Int)] = stop.map(_ -> 0)

  /** Token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letters / digits / single punctuation marks), plus char length. */
  private def tokenStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the regex-tokenizer count comes from the RegexishTokenCount
    // kernel — bit-equal to size(regexp_extract_all(text,
    // "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")) (TextStatsSpec), which the
    // DuckDB oracle still states; the negated char class in the
    // alternation is exactly the java.util.regex shape that
    // anti-scales on this host (TextStats.scala header)
    Tbl.documents(s, d)
      .select($"doc_id",
              size(split($"text", " ")).as("n_ws_tokens"),
              org.apache.spark.sql.graft.RegexishTokenCount.of($"text")
                .cast("int").as("n_re_tokens"),
              length($"text").as("len_chars"),
              $"n_chars")
      .orderBy($"doc_id")
  }

  private val tokenStatsSql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_re_tokens,
      |  length(text) AS len_chars, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: stopword ratio, punctuation ratio, digit ratio,
    * mean word length, composite score — the C4/Gopher-style heuristics.
    * All ratios are emitted as exact integer parts-per-million (floor
    * division of exact counts): fully tie-free across engines, unlike
    * round()-ed doubles whose half-way decimal cases (e.g. len=128) are
    * resolved differently by Spark (BigDecimal HALF_UP) and DuckDB. */
  private def qualityScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // every division floored PER TERM before the composite sum — the
    // oracle's `//` floors each term, and a single truncation of the
    // double sum is off by one whenever the terms' fractional parts
    // don't cancel (all terms non-negative, so trunc ≡ floor).
    //
    // Every count comes from two kernel passes: token stats over the
    // kernel-normalized text (stop count, token count, non-space
    // chars) and char-class counts over the raw text (punct, digit).
    // st layout: [1]=stop count, [2]=nTokens (split('')=[''] so >= 1),
    // [3]=non-space chars; cc: [1]=non-[A-Za-z0-9 ] codepoints,
    // [2]=ASCII digits — all exactly the regex length-delta counts
    // (TextStatsSpec pins each identity).
    Tbl.documents(s, d)
      .withColumn("st", org.apache.spark.sql.graft.TokenGroupCounts.of(
        norm($"text"), stopVocab, 1))
      .withColumn("cc", org.apache.spark.sql.graft.CharClassCounts.of($"text"))
      .withColumn("n_w", element_at($"st", 2))
      .withColumn("n_stop", element_at($"st", 1))
      // len floored at 1: an empty document must score 0, not throw —
      // Column `/` is double division, and ANSI casts Infinity/NaN to
      // long as an error (numerators are 0 when len is 0, so 0/1 = 0)
      .withColumn("len", greatest(length($"text").cast("long"), lit(1L)))
      .withColumn("n_punct", element_at($"cc", 1))
      .withColumn("n_digit", element_at($"cc", 2))
      .withColumn("n_letters", element_at($"st", 3))
      .select($"doc_id", $"n_w".as("n_words"),
              (($"n_stop" * 1000000L) / $"n_w").cast("long").as("stopword_ppm"),
              (($"n_punct" * 1000000L) / $"len").cast("long").as("punct_ppm"),
              (($"n_digit" * 1000000L) / $"len").cast("long").as("digit_ppm"),
              (($"n_letters" * 1000000L) / $"n_w").cast("long").as("avg_wlen_um"),
              ((($"n_stop" * 300000L) / $"n_w").cast("long") + lit(300000L) -
               (($"n_punct" * 300000L) / $"len").cast("long") +
               least((($"n_w" * 400000L) / 100L).cast("long"), lit(400000L)))
                .as("quality_ppm"))
      .orderBy($"doc_id")
  }

  private val qualityScoreSql = {
    val words = s"string_split($normSql, ' ')"
    val nW = s"len($words)"
    val nStop = s"len(list_filter($words, w -> w IN $stopSqlList))"
    val nPunct = s"(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))"
    val nDigit = s"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
    val nLetters = s"length(replace($normSql, ' ', ''))"
    val len = "greatest(length(text), 1)"
    s"""SELECT doc_id, CAST($nW AS BIGINT) AS n_words,
       |  CAST($nStop * 1000000 // $nW AS BIGINT) AS stopword_ppm,
       |  CAST($nPunct * 1000000 // $len AS BIGINT) AS punct_ppm,
       |  CAST($nDigit * 1000000 // $len AS BIGINT) AS digit_ppm,
       |  CAST($nLetters * 1000000 // $nW AS BIGINT) AS avg_wlen_um,
       |  CAST($nStop * 300000 // $nW + 300000 - $nPunct * 300000 // $len
       |       + least($nW * 400000 // 100, 400000) AS BIGINT) AS quality_ppm
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language-ID n-gram/marker heuristic: per-language marker-word hit
    * counts, argmax with a fixed priority order as the deterministic
    * tiebreak. (The vocabulary is synthetic — the graded artifact is the
    * scoring/argmax machinery, not linguistic accuracy.) */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "y", "los"),
    "fr" -> Seq("le", "et", "la"),
    "zh" -> Seq("shi", "de", "bu"))

  private def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE kernel pass computes all 15 whole-token marker counts over
    // the kernel-normalized text, grouped per language (the 15 marker
    // words are globally distinct, so group sums equal the original
    // size(filter(words, In)) per-language counts — TextStatsSpec).
    // Output stays INT to match the original formulation's type.
    val vocab = markers.zipWithIndex.flatMap { case ((_, ms), g) => ms.map(_ -> g) }
    val scored = Tbl.documents(s, d)
      .withColumn("st", org.apache.spark.sql.graft.TokenGroupCounts.of(
        norm($"text"), vocab, markers.size))
      .select(($"doc_id" +: $"lang" +: markers.zipWithIndex.map { case ((l, _), g) =>
        element_at($"st", g + 1).cast("int").as(s"s_$l")
      }): _*)
    // argmax with declaration-order priority: the first language whose
    // score equals the row max wins (deterministic tiebreak).
    val maxS = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    val predOrdered = markers.reverse.foldLeft(lit("und"): Column) {
      case (acc, (l, _)) => when(col(s"s_$l") === maxS && maxS > 0, lit(l)).otherwise(acc)
    }
    scored.select($"doc_id", $"lang", predOrdered.as("lang_pred"),
                  col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
      .orderBy($"doc_id")
  }

  private val langIdSql = {
    val words = s"string_split($normSql, ' ')"
    def sc(ms: Seq[String]) =
      s"len(list_filter($words, w -> w IN ${ms.map(m => s"'$m'").mkString("(", ",", ")")}))"
    val scoreCols = markers.map { case (l, ms) => s"${sc(ms)} AS s_$l" }.mkString(",\n  ")
    val maxS = s"greatest(${markers.map { case (l, _) => s"s_$l" }.mkString(", ")})"
    val cases = markers.map { case (l, _) =>
      s"WHEN s_$l = $maxS AND $maxS > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""SELECT doc_id, lang,
       |  CASE $cases ELSE 'und' END AS lang_pred,
       |  s_en, s_de, s_es, s_fr, s_zh
       |FROM (SELECT doc_id, lang, $scoreCols FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: md5 of the normalized text (exact-dup key)
    * plus a winnowing-style min-hash over word 3-grams (near-dup key). */
  private def fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // words staged as an attribute: element_at over a raw split-expr
    // inside the lambda would re-run the split per element (see
    // DedupOps.withShingles).
    val w = col("words")
    val shingleMin = when(size(w) >= 3,
      array_min(transform(sequence(lit(1), size(w) - 2),
        i => md5(concat_ws(" ",
          element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))))
      .otherwise(md5(concat_ws(" ", w)))
    Tbl.documents(s, d)
      .select($"doc_id", norm($"text").as("nrm"), split(norm($"text"), " ").as("words"))
      .select($"doc_id", md5($"nrm").as("fp_exact"), shingleMin.as("fp_shingle_min"))
      .orderBy($"doc_id")
  }

  private val fingerprintSql = {
    val words = s"string_split($normSql, ' ')"
    s"""SELECT doc_id, md5($normSql) AS fp_exact,
       |  CASE WHEN len($words) >= 3 THEN
       |    list_min([md5($words[i] || ' ' || $words[i+1] || ' ' || $words[i+2])
       |              for i in generate_series(1, len($words) - 2)])
       |  ELSE md5($normSql) END AS fp_shingle_min
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF: term frequency × inverse document frequency, top-3 terms
    * per document — the classic explode→aggregate→join shape; df and N
    * are exact counts, idf = ln(N/df) rounded once at the end. */
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = Tbl.documents(s, d)
      .select($"doc_id", split(norm($"text"), " ").as("words"))
      .select($"doc_id", explode_outer($"words").as("word"))
    val tf = ex.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val dfreq = ex.groupBy($"word").agg(countDistinct($"doc_id").as("df"))
    val n = Tbl.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
      .select($"doc_id", $"word",
              round($"tf" * log(($"n_docs" * 1.0) / $"df"), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"word")
    scored.withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .orderBy($"doc_id", $"rn")
  }

  private val tfidfSql = {
    val words = s"string_split($normSql, ' ')"
    s"""WITH ex AS (SELECT doc_id, unnest($words) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM ex GROUP BY 1, 2),
       |dfreq AS (SELECT word, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT doc_id, word, tfidf, rn FROM (
       |  SELECT doc_id, word,
       |    round(tf * ln((n_docs * 1.0) / df), 6) AS tfidf,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY round(tf * ln((n_docs * 1.0) / df), 6) DESC, word) AS rn
       |  FROM tf JOIN dfreq USING (word), n)
       |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin
  }

  private val HeavyHittersK = 50

  /** Corpus-wide heavy hitters: the top-K most frequent normalized
    * tokens with term count and document frequency — the vocabulary /
    * contamination scan every training-data pipeline runs first.
    *
    * Scale shape: explode → two-phase aggregation. The term count is a
    * map-side partial agg (the shuffle carries one row per distinct
    * (partition, token), not per token occurrence); document frequency
    * shuffles (token, doc_id) distinct pairs once. The final top-K is a
    * single ordered limit over ~vocabulary-size rows — at 100 TB the
    * vocabulary is millions of rows, trivially driver-safe, while the
    * corpus itself is never re-shuffled. Ordering (count desc, token)
    * makes the K-th boundary deterministic on both engines. */
  /** Domain-mixture rebalancing (the DoReMi/data-mixing surface): per
    * source, the corpus share vs a uniform target mixture and the
    * sampling weight that would rebalance to it — the knob a training-
    * data pipeline turns to re-weight web/books/code domains. Kept-doc
    * counts use downsample-only weights (min(weight, 1)).
    *
    * Scale shape: one source-keyed partial agg (domain cardinality is
    * tiny) + a single-row total broadcast back — no data-sized shuffle.
    * All shares/weights are integer ppm via floor division on exact
    * counts (the quality_ppm discipline). Bound: `total · 10⁶` rides a
    * BIGINT on the Spark side (DuckDB promotes to HUGEINT), so the ppm
    * math is exact to ~9.2e12 documents per mixture job — two orders
    * past a 100 TB corpus of short documents. */
  private def domainMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = Tbl.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
    val tot = per.agg(sum($"n_docs").as("total"),
                      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_chars",
              expr("n_docs * 1000000 div total").as("share_ppm"),
              expr("1000000 div n_sources").as("target_ppm"),
              expr("total * 1000000 div (n_docs * n_sources)").as("weight_ppm"),
              expr("least(n_docs, total div n_sources)").as("kept_docs"))
      .orderBy($"source")
  }

  private val domainMixSql =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS n_chars
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
      |               count(*) AS n_sources FROM per)
      |SELECT source, n_docs, n_chars,
      |  CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm,
      |  CAST(1000000 // n_sources AS BIGINT) AS target_ppm,
      |  CAST(total * 1000000 // (n_docs * n_sources) AS BIGINT) AS weight_ppm,
      |  CAST(least(n_docs, total // n_sources) AS BIGINT) AS kept_docs
      |FROM per, tot ORDER BY source""".stripMargin

  private val VocabK = 100

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-100 token vocabulary — the coverage statistic that drives
    * tokenizer-vocabulary sizing. Two-phase: the vocabulary is a
    * vocabulary-sized agg (deterministic K-boundary: count desc, token
    * asc — same discipline as `tx_heavy_hitters`), broadcast back
    * against the token stream; per-doc re-agg is one constant-width
    * shuffle on doc_id. */
  private def oovRate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tbl.documents(s, d)
      .select($"doc_id", explode(split(TextNorm.norm($"text"), " ")).as("token"))
      .where($"token" =!= "")
    val vocab = tok.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").limit(VocabK)
      .select($"token", lit(1).as("in_v"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), count($"in_v").as("n_in_vocab"))
      .select($"doc_id", $"n_tokens",
              expr("(n_tokens - n_in_vocab) * 1000000 div n_tokens").as("oov_ppm"))
      .orderBy($"doc_id")
  }

  /** Unigram cross-entropy quality score — the language-model-based
    * filter beside the heuristic `tx_quality_score`: score each doc by
    * its average token surprisal −(1/n)·Σ ln p(w) under the corpus's
    * OWN unigram distribution (word-salad and boilerplate score LOW
    * surprisal, rare-token noise scores HIGH; both tails are the
    * filter's prey). Same two-phase shape as [[oovRate]]: vocab-sized
    * count agg broadcast back against the token stream, one
    * constant-width doc_id shuffle to finish — the token stream never
    * shuffles for the model. Determinism across engines: ln() is libm,
    * so each token's surprisal is rounded to 7 decimals FIRST (the
    * dead-reckoning discipline) and then floored to integer MICRO-NATS;
    * all aggregation is exact integer arithmetic (a float Σ would be
    * order-sensitive, and Spark's partial aggregation order is not
    * deterministic). */
  private def unigramLogprob(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tbl.documents(s, d)
      .select($"doc_id", explode(split(TextNorm.norm($"text"), " ")).as("token"))
      .where($"token" =!= "")
    // N rides ON the counts relation as an unpartitioned window sum —
    // one counts build (not one per consumer), the window runs over
    // |vocab| rows (single partition BY DESIGN: it is the model, not
    // the corpus), and the token stream is scanned exactly twice
    // (once into the counts agg, once through the broadcast join); a
    // separate 1-row total relation would recompute the counts subtree.
    // Measured and rejected alternative (sf10p, per-query best-of-2):
    // reducing the stream once to (doc_id, token, c) and weighting both
    // consumers — 38.7/33.0 s vs this shape's 42.3/32.1 s, a wash warm,
    // because the saved second explode is repaid by a NEW wide exchange
    // of distinct (doc_id, token) partials that this plan never builds:
    // here the only exchanges are |vocab| rows (model agg) and ~1 row
    // per doc per input partition (map-side-combined doc agg), so the
    // occurrence stream stays inside its scan tasks — the shape that
    // wins when scan CPU is 1000-way parallel and shuffle is the wall.
    val counts = tok.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .withColumn("n_total",
        sum($"cnt").over(org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)))
    tok.join(broadcast(counts), Seq("token"))
      .select($"doc_id",
              floor(round(log($"cnt".cast("double") / $"n_total".cast("double")), 7)
                      * 1000000.0).cast("long").as("u"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"u").as("sum_u"))
      .select($"doc_id", $"n_tokens",
              expr("(-sum_u) div n_tokens").as("xent_unat"))
      .orderBy($"doc_id")
  }

  private val unigramLogprobSql =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(string_split(${TextNorm.normSql}, ' ')) AS token
       |  FROM documents),
       |tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
       |tot AS (SELECT count(*) AS n_total FROM tok2),
       |cnts AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY token),
       |sc AS (
       |  SELECT t.doc_id,
       |    CAST(floor(round(ln(CAST(c.cnt AS DOUBLE) / CAST(s.n_total AS DOUBLE)), 7)
       |               * 1000000.0) AS BIGINT) AS u
       |  FROM tok2 t JOIN cnts c USING (token), tot s)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST((-sum(u)) // count(*) AS BIGINT) AS xent_unat
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val oovRateSql =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         unnest(string_split(${TextNorm.normSql}, ' ')) AS token
       |  FROM documents),
       |tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS cnt FROM tok2 GROUP BY token
       |    ORDER BY cnt DESC, token LIMIT $VocabK)),
       |agg AS (
       |  SELECT t.doc_id, count(*) AS n_tokens,
       |         count(v.token) AS n_in_vocab
       |  FROM tok2 t LEFT JOIN vocab v ON t.token = v.token
       |  GROUP BY t.doc_id)
       |SELECT doc_id, n_tokens,
       |  CAST((n_tokens - n_in_vocab) * 1000000 // n_tokens AS BIGINT) AS oov_ppm
       |FROM agg ORDER BY doc_id""".stripMargin

  private val ChunkTokens = 32
  private val ChunkStride = 24

  /** Overlapping fixed-size token-window chunking — the context-window
    * splitter that precedes embedding / training-sequence construction:
    * 32-token chunks on a 24-token stride (8-token overlap), each chunk
    * identified by an md5 over its reassembled text (the key
    * `dd_chunk_dedup`-style boilerplate removal groups on).
    *
    * Scale shape: pure per-row explode — fan-out is ceil(tokens/stride)
    * per doc, no shuffle anywhere except the output sort; chunk hashes
    * are 16 bytes regardless of chunk text.
    *
    * Chunk-count arithmetic stays CASE-guarded non-negative: Spark `div`
    * truncates toward zero while DuckDB `//` floors, so a negative
    * numerator would silently disagree by one. */
  private def chunkSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nChunks = expr(
      s"""CASE WHEN size(words) <= $ChunkTokens THEN 1
         |ELSE (size(words) - $ChunkTokens + ${ChunkStride - 1}) div $ChunkStride + 1
         |END""".stripMargin)
    Tbl.documents(s, d)
      .where(TextNorm.norm($"text") =!= "")
      .select($"doc_id", split(TextNorm.norm($"text"), " ").as("words"))
      .select($"doc_id", $"words",
              explode(sequence(lit(0), nChunks.cast("int") - 1)).as("chunk_idx"))
      .select($"doc_id", $"chunk_idx",
              ($"chunk_idx" * ChunkStride).as("start_tok"),
              least(lit(ChunkTokens),
                    size($"words") - $"chunk_idx" * ChunkStride).as("n_chunk_tokens"),
              md5(concat_ws(" ",
                slice($"words", $"chunk_idx" * ChunkStride + 1, lit(ChunkTokens))))
                .as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  private val chunkSplitSql = {
    val ct = ChunkTokens; val st = ChunkStride
    s"""WITH base AS (
       |  SELECT doc_id, string_split(${TextNorm.normSql}, ' ') AS words
       |  FROM documents WHERE ${TextNorm.normSql} <> ''),
       |idx AS (
       |  SELECT doc_id, words,
       |    unnest(generate_series(0,
       |      CASE WHEN len(words) <= $ct THEN 0
       |           ELSE (len(words) - $ct + ${st - 1}) // $st END)) AS chunk_idx
       |  FROM base)
       |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |  CAST(chunk_idx * $st AS INT) AS start_tok,
       |  CAST(least($ct, len(words) - chunk_idx * $st) AS INT) AS n_chunk_tokens,
       |  md5(array_to_string(words[chunk_idx*$st+1 : chunk_idx*$st+$ct], ' ')) AS chunk_md5
       |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Model-based quality filtering, deployment-shaped: a LINEAR
    * classifier (weights learned offline — fastText-style quality
    * filters reduce to exactly this at serving time) folded into a pure
    * column expression. At 100 TB the model ships INTO the scan as
    * codegen arithmetic — no model service, no UDF, no batch boundary;
    * retraining redeploys by editing literals.
    *
    * Every feature and the score are exact integers (per-term floor
    * division, non-negative numerators), so the kept/dropped decision
    * boundary is bit-identical across engines — a float dot product
    * here would make borderline documents flip per platform. */
  private def modelFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nW = size($"words").cast("long")
    val len = greatest(length($"text").cast("long"), lit(1L))
    Tbl.documents(s, d)
      .withColumn("ntext", norm($"text")) // staged: words + kernel share it
      .withColumn("words", split($"ntext", " ")) // materialized attr
      // stop and digit counts from the TextStats kernels (bit-equal to
      // the regex/HOF forms, TextStatsSpec); words stays an attribute
      // for the distinct-token ratio
      .withColumn("kst", org.apache.spark.sql.graft.TokenGroupCounts.of(
        $"ntext", stopVocab, 1))
      .select($"doc_id", nW.as("n_words"),
        (size(array_distinct($"words")).cast("long") * 1000000L / nW)
          .cast("long").as("uniq_ppm"),
        (element_at($"kst", 1)
          * 1000000L / nW).cast("long").as("stop_ppm"),
        (element_at(org.apache.spark.sql.graft.CharClassCounts.of($"text"), 2)
          * 1000000L / len).cast("long").as("digit_ppm"))
      .select($"doc_id", $"n_words", $"uniq_ppm", $"stop_ppm", $"digit_ppm",
        expr("least(n_words, 200) * 800 + uniq_ppm div 2" +
             " + stop_ppm div 4 - digit_ppm div 2").as("score_u"))
      .withColumn("kept", $"score_u" >= 400000L)
      .orderBy($"doc_id")
  }

  /** The model-filter feature subquery + score expression, shared by
    * `tx_model_filter` and the corpus sampler's oracle — one definition
    * so the linear model can never silently fork between them. */
  private val modelFeaturesSql = {
    val words = s"string_split($normSql, ' ')"
    val nW = s"len($words)"
    val nStop = s"len(list_filter($words, w -> w IN $stopSqlList))"
    val nDigit = s"(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
    val len = "greatest(length(text), 1)"
    s"""SELECT doc_id, source, CAST($nW AS BIGINT) AS n_words,
       |    CAST(len(list_distinct($words)) * 1000000 // $nW AS BIGINT) AS uniq_ppm,
       |    CAST($nStop * 1000000 // $nW AS BIGINT) AS stop_ppm,
       |    CAST($nDigit * 1000000 // $len AS BIGINT) AS digit_ppm
       |  FROM documents""".stripMargin
  }
  private val modelScoreSql =
    "least(n_words, 200) * 800 + uniq_ppm // 2 + stop_ppm // 4 - digit_ppm // 2"

  private val modelFilterSql =
    s"""SELECT doc_id, n_words, uniq_ppm, stop_ppm, digit_ppm,
       |  CAST($modelScoreSql AS BIGINT) AS score_u,
       |  ($modelScoreSql) >= 400000 AS kept
       |FROM ($modelFeaturesSql)
       |ORDER BY doc_id""".stripMargin

  /** Corpus-assembly sampler — the step that turns curation signals
    * into the training corpus: per-doc keep = (linear quality score
    * passes) AND (deterministic md5 draw under the source's
    * downsample-to-target mixture weight). Composes `tx_model_filter`
    * and `tx_domain_mix` semantics in one pass — the application step
    * of a DoReMi-style mixture atop a fastText-style filter. The target
    * mixture is priority-weighted (priority = a deterministic function
    * of the source id, standing in for the learned domain weights), so
    * low-priority sources genuinely downsample (40%/80% classes on this
    * corpus) rather than saturating at 1. No RNG state anywhere:
    * re-runs select identical documents, and the rates are exact ppm.
    *
    * Scale shape: mixture weights are a source-sized agg broadcast
    * back; everything else is the per-row score + one md5 — a single
    * corpus scan. */
  private def corpusSampler(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val prio = (substring($"source", 4, 8).cast("long") % 4L + 1L).as("prio")
    val per = Tbl.documents(s, d).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), first(prio).as("prio"))
    val tot = per.agg(sum($"n_docs").as("total"), sum($"prio").as("sum_prio"))
    val weights = per.crossJoin(broadcast(tot))
      .select($"source",
        expr("least(1000000, prio * total * 1000000 div (sum_prio * n_docs))")
          .as("weight_ppm"))
    val nW = size($"words").cast("long")
    val len = greatest(length($"text").cast("long"), lit(1L))
    Tbl.documents(s, d)
      .withColumn("ntext", norm($"text"))
      .withColumn("words", split($"ntext", " "))
      // kernel stop/digit counts (see modelFilter)
      .withColumn("kst", org.apache.spark.sql.graft.TokenGroupCounts.of(
        $"ntext", stopVocab, 1))
      .select($"doc_id", $"source",
        nW.as("n_words"),
        (size(array_distinct($"words")).cast("long") * 1000000L / nW)
          .cast("long").as("uniq_ppm"),
        (element_at($"kst", 1)
          * 1000000L / nW).cast("long").as("stop_ppm"),
        (element_at(org.apache.spark.sql.graft.CharClassCounts.of($"text"), 2)
          * 1000000L / len).cast("long").as("digit_ppm"))
      .select($"doc_id", $"source",
        expr("least(n_words, 200) * 800 + uniq_ppm div 2" +
             " + stop_ppm div 4 - digit_ppm div 2").as("score_u"))
      .join(broadcast(weights), "source")
      .withColumn("draw",
        conv(substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 8),
             16, 10).cast("long") % 1000000L)
      .select($"doc_id", $"source", $"score_u", $"weight_ppm",
              ($"draw" < $"weight_ppm").as("sampled"),
              ($"draw" < $"weight_ppm" && $"score_u" >= 400000L).as("kept"))
      .orderBy($"doc_id")
  }

  private val corpusSamplerSql =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS prio
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
       |               CAST(sum(prio) AS BIGINT) AS sum_prio FROM per),
       |weights AS (
       |  SELECT source,
       |    CAST(least(1000000, prio * total * 1000000 // (sum_prio * n_docs))
       |         AS BIGINT) AS weight_ppm
       |  FROM per, tot),
       |scored AS (
       |  SELECT doc_id, source, CAST($modelScoreSql AS BIGINT) AS score_u,
       |    CAST(('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8)) AS BIGINT)
       |      % 1000000 AS draw
       |  FROM ($modelFeaturesSql))
       |SELECT s.doc_id, s.source, s.score_u, w.weight_ppm,
       |  s.draw < w.weight_ppm AS sampled,
       |  (s.draw < w.weight_ppm AND s.score_u >= 400000) AS kept
       |FROM scored s JOIN weights w ON s.source = w.source
       |ORDER BY doc_id""".stripMargin

  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .select($"doc_id", explode(split(TextNorm.norm($"text"), " ")).as("token"))
      .where($"token" =!= "")
      .groupBy($"token")
      .agg(count(lit(1)).as("cnt"), count_distinct($"doc_id").as("n_docs"))
      .orderBy($"cnt".desc, $"token")
      .limit(HeavyHittersK)
  }

  private val heavyHittersSql =
    s"""SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
       |FROM (SELECT doc_id,
       |        unnest(string_split(${TextNorm.normSql}, ' ')) AS token
       |      FROM documents)
       |WHERE token <> ''
       |GROUP BY token
       |ORDER BY cnt DESC, token LIMIT $HeavyHittersK""".stripMargin

  /** Eval decontamination: for every TEST document (doc_id odd), how
    * many of its distinct word-3-shingles appear anywhere in the TRAIN
    * split (doc_id even) — the pre-training scan that keeps benchmark
    * text out of the training corpus. Shares the canonical shingle
    * definition with the dedup family (TextNorm).
    *
    * Scale shape: the train side collapses to a DISTINCT gram set, so
    * the contamination join has multiplicity 1 per (test doc, gram) —
    * a ubiquitous gram costs one row, never a train-df × test-df
    * blow-up. One equi-join on the gram string + one constant-width
    * per-doc count. */
  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: BOTH splits read it — unpersisted, the whole
    // normalize+shingle explode runs twice (once per branch).
    // explode_outer, not explode: InferFiltersFromGenerate would clone
    // the interpreted shingle expression into a per-row pre-filter
    // (measured 31 s → ~2 s at sf0.1, same trap as DedupOps:120)
    val sh = TextNorm.withShingles(Tbl.documents(s, d))
      .select($"doc_id", explode_outer($"sh").as("g"))
      .where($"g" =!= "")
      .persist()
    val trainGrams = sh.where($"doc_id" % 2 === 0).select($"g").distinct()
    val test = sh.where($"doc_id" % 2 === 1)
    val tot = test.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val hit = test.join(trainGrams, "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    tot.join(hit, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_grams",
              coalesce($"n_shared", lit(0L)).as("n_shared"))
      .withColumn("shared_ppm", expr("n_shared * 1000000 div n_grams"))
      .withColumn("contaminated", $"n_shared" > 0)
      .orderBy($"doc_id")
  }

  private val decontaminateSql =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${TextNorm.shinglesSql}) AS g FROM documents),
       |flt AS (SELECT doc_id, g FROM sh WHERE g <> ''),
       |tr AS (SELECT DISTINCT g FROM flt WHERE doc_id % 2 = 0),
       |te AS (SELECT doc_id, g FROM flt WHERE doc_id % 2 = 1),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY doc_id),
       |hit AS (SELECT te.doc_id, count(*) AS n_shared
       |        FROM te JOIN tr ON te.g = tr.g GROUP BY te.doc_id)
       |SELECT t.doc_id, t.n_grams,
       |  coalesce(h.n_shared, 0) AS n_shared,
       |  CAST(coalesce(h.n_shared, 0) * 1000000 // t.n_grams AS BIGINT) AS shared_ppm,
       |  coalesce(h.n_shared, 0) > 0 AS contaminated
       |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
       |ORDER BY t.doc_id""".stripMargin

  private val BpeTopPairs = 20

  /** BPE tokenizer-training seed step: corpus-wide frequency of adjacent
    * character pairs inside normalized words — the statistic the first
    * byte-pair-encoding merge maximizes. Same two-phase shape as
    * `tx_heavy_hitters` (map-side partial counts, alphabet²-sized
    * shuffle); the words attribute is materialized BEFORE the pair
    * lambda so the split/normalize work isn't re-evaluated per pair
    * (TextNorm's interpreted-HOF rule). A full BPE trainer is this scan
    * in a driver loop: count → merge top pair → re-scan. */
  private def bpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .select(explode(split(TextNorm.norm($"text"), " ")).as("w"))
      .where(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(BpeTopPairs)
  }

  private val bpePairsSql =
    s"""SELECT pair, count(*) AS cnt FROM (
       |  SELECT unnest([substr(w, i, 2)
       |                 for i in generate_series(1, len(w) - 1)]) AS pair
       |  FROM (SELECT unnest(string_split(${TextNorm.normSql}, ' ')) AS w
       |        FROM documents)
       |  WHERE len(w) >= 2)
       |GROUP BY pair ORDER BY cnt DESC, pair LIMIT $BpeTopPairs""".stripMargin

  private val BpeTrainMerges = 10

  /** Full BPE trainer (Sennrich et al. 2016) on top of the `tx_bpe_pairs`
    * scan: K merge rounds of count-adjacent-pairs → take the most
    * frequent (ties to the lexicographically smallest pair — fully
    * deterministic) → apply the merge corpus-wide → re-count. Output is
    * the merge table itself, the artifact a tokenizer ships.
    *
    * Representation: the corpus collapses ONCE to word TYPES with
    * occurrence counts (pair statistics are identical, and at 100 TB the
    * loop then iterates over a vocabulary-sized relation, not the
    * corpus); each word's symbol sequence is a single string with every
    * symbol wrapped in `|` sentinels (`hello` → `|h||e||l||l||o|`,
    * possible because normalized text is [a-z0-9 ] only). A merge of
    * (a, b) is then `replace(s, '|a||b|', '|ab|')`: the wrapping makes a
    * symbol-BOUNDARY match impossible to confuse with a symbol-content
    * match (merging (b,a) can never fire inside `|ab||a|`), and both
    * engines' left-to-right non-overlapping `replace` IS greedy BPE
    * application (`aaa` under (a,a) → `aa a`, never `a aa`).
    *
    * Scale shape: each round is one map over the vocabulary + an
    * alphabet²-sized pair agg; the 1-row argmax collect is the standard
    * driver-side control step (same discipline as the IVF codebook
    * collects); localCheckpoint per round keeps the 10-round lineage
    * flat (the dupClustersLoop lesson). */
  private[graft] def bpeMerges(s: SparkSession, docs: DataFrame,
                               k: Int): Seq[(Int, String, String, String, Long)] = {
    // pair aggs are alphabet²-sized: run the loop's shuffles at a
    // partition count sized to that, not the session default (same
    // scoped override + single-threaded-engine assumption as
    // dupClusters)
    graft.Session.withConf(s, "spark.sql.shuffle.partitions" -> "4")(
      bpeMergesLoop(s, docs, k))
  }

  private def bpeMergesLoop(s: SparkSession, docs: DataFrame,
                            k: Int): Seq[(Int, String, String, String, Long)] = {
    import s.implicits._
    var words = docs
      .select(explode(split(TextNorm.norm($"text"), " ")).as("w"))
      .where(length($"w") >= 1)
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .select(expr("concat('|', array_join(transform(sequence(1, length(w))," +
                   " i -> substring(w, i, 1)), '||'), '|')").as("s"), $"c")
      // the vocabulary relation is tiny (tens of thousands of short
      // strings); 10 rounds × session-default partitions would be pure
      // task overhead — at 100 TB size this to vocab volume, not corpus
      .repartition(4)
      .localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (step <- 1 to k if !exhausted) {
      val top = words
        .withColumn("ss", split(expr("trim(BOTH '|' FROM s)"), "\\|\\|"))
        .where(size($"ss") >= 2)
        .select(explode(expr("transform(sequence(1, size(ss) - 1)," +
          " i -> struct(element_at(ss, i) AS a, element_at(ss, i + 1) AS b))"))
          .as("p"), $"c")
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"c").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption match {
        case None => exhausted = true // corpus fully merged before K rounds
        case Some((a, b, cnt)) =>
          merges += ((step, a, b, a + b, cnt))
          // symbols are [a-z0-9]+ so the inlined literals need no escaping
          words = words
            .select(expr(s"replace(s, '|$a||$b|', '|$a$b|')").as("s"), $"c")
            .localCheckpoint(eager = false)
      }
    }
    merges.toSeq
  }

  /** The trained merge table, memoized per `documents.parquet`
    * fingerprint ([[graft.Tbl.fileKey]]: path, length, mtime) — the
    * tokenizer ARTIFACT, reused by the application pass like the IVF
    * codebook collects; a documents file rewritten in place misses and
    * is trained afresh. Only `bpeApply` reads the cache: `bpeTrain`
    * itself always re-trains, so its benchmark timing prices the trainer
    * loop — a cache-hit min would make a trainer regression invisible in
    * the per-query history. */
  private val mergeCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(Int, String, String, String, Long)]]

  private def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = bpeMerges(s, Tbl.documents(s, d), BpeTrainMerges)
    mergeCache.put(Tbl.fileKey(s"$d/documents.parquet"), merges)
    merges.toDF("step", "lhs", "rhs", "merged", "cnt").orderBy($"step")
  }

  /** Tokenizer APPLICATION — the serving half of the train→apply
    * lifecycle: every document is segmented with the trained merge
    * table (the same boundary-exact replace chain, folded into ONE
    * codegen'd per-row expression — no UDF, no join), and reports its
    * token count plus the compression the tokenizer achieves
    * (tokens-per-character in floor ppm; 1e6 = character-level, lower is
    * better). Scale shape: map-only until the doc_id agg — the merge
    * table rides into the scan as 10 string literals. */
  private def bpeApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = mergeCache.getOrElseUpdate(Tbl.fileKey(s"$d/documents.parquet"),
      bpeMerges(s, Tbl.documents(s, d), BpeTrainMerges))
    val chained = merges.foldLeft(
      "concat('|', array_join(transform(sequence(1, length(w))," +
        " i -> substring(w, i, 1)), '||'), '|')") {
      case (e, (_, a, b, _, _)) => s"replace($e, '|$a||$b|', '|$a$b|')"
    }
    Tbl.documents(s, d)
      .select($"doc_id", explode(split(TextNorm.norm($"text"), " ")).as("w"))
      .where(length($"w") >= 1)
      .select($"doc_id", length($"w").as("n_chars"),
              expr(s"size(split(trim(BOTH '|' FROM $chained), '\\\\|\\\\|'))")
                .as("n_sym"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum($"n_sym").as("n_tokens"),
           sum($"n_chars".cast("long")).as("n_chars"))
      .withColumn("tok_per_char_ppm",
                  expr("n_tokens * 1000000 div n_chars"))
      .orderBy($"doc_id")
  }

  /** Oracle: the bpeTrain CTE chain (b1..bK hold the learned pairs) +
    * the same replace chain via scalar subqueries. A bN that trained
    * fewer than K merges would be empty → NULL pattern → NULL chain, so
    * each pattern/replacement is coalesced to '~', a character that
    * cannot occur in normalized text — the replace is then a no-op,
    * matching Spark's shorter fold on early stop. */
  private val bpeApplySql = {
    val baseSql =
      "'|' || array_to_string([w[i] for i in generate_series(1, len(w))], '||') || '|'"
    val chained = (1 to BpeTrainMerges).foldLeft(baseSql) { (e, n) =>
      s"""replace($e,
         |  coalesce('|' || (SELECT a FROM b$n) || '||' || (SELECT b FROM b$n) || '|', '~'),
         |  coalesce('|' || (SELECT a FROM b$n) || (SELECT b FROM b$n) || '|', '~'))""".stripMargin
    }
    s"""WITH $bpeTrainCtes,
       |wapp AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(${TextNorm.normSql}, ' ')) AS w
       |    FROM documents)
       |  WHERE len(w) >= 1),
       |tok AS (
       |  SELECT doc_id, len(w) AS n_chars,
       |    len(string_split(trim($chained, '|'), '||')) AS n_sym
       |  FROM wapp)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_sym) * 1000000 // sum(n_chars) AS BIGINT) AS tok_per_char_ppm
       |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The same K rounds unrolled as chained CTEs — DuckDB has no loops,
    * but the merge count is a fixed hyperparameter, so unrolling is
    * faithful (and keeps the oracle a single statement). Every round CTE
    * is MATERIALIZED: DuckDB inlines plain CTEs per REFERENCE, so a
    * chain whose round reads its predecessor more than once would
    * otherwise expand 2^K-fold (observed as 1024 opens of the same
    * parquet file). */
  /** The K training rounds as a chained-CTE prefix, shared by the train
    * and apply oracles (b1..bK hold the learned pairs). Lazy: referenced
    * by oracle vals declared in either order. */
  private lazy val bpeTrainCtes = {
    val base =
      s"""base AS MATERIALIZED (
         |  SELECT w, count(*) AS c FROM (
         |    SELECT unnest(string_split(${TextNorm.normSql}, ' ')) AS w
         |    FROM documents)
         |  WHERE len(w) >= 1 GROUP BY w),
         |w0 AS MATERIALIZED (
         |  SELECT '|' || array_to_string(
         |           [w[i] for i in generate_series(1, len(w))], '||') || '|' AS s, c
         |  FROM base)""".stripMargin
    val rounds = (1 to BpeTrainMerges).map { n =>
      s"""p$n AS MATERIALIZED (
         |  SELECT a, b, CAST(sum(c) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(la) AS a, unnest(lb) AS b, c FROM (
         |      SELECT [ss[i] for i in generate_series(1, len(ss) - 1)] AS la,
         |             [ss[i] for i in generate_series(2, len(ss))] AS lb, c
         |      FROM (SELECT string_split(trim(s, '|'), '||') AS ss, c FROM w${n - 1})
         |      WHERE len(ss) >= 2))
         |  GROUP BY a, b),
         |b$n AS MATERIALIZED (SELECT a, b, cnt FROM p$n ORDER BY cnt DESC, a, b LIMIT 1),
         |w$n AS MATERIALIZED (
         |  SELECT replace(s, '|' || (SELECT a FROM b$n) || '||' ||
         |                     (SELECT b FROM b$n) || '|',
         |                 '|' || (SELECT a FROM b$n) ||
         |                     (SELECT b FROM b$n) || '|') AS s, c
         |  FROM w${n - 1})""".stripMargin
    }
    s"""$base,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val bpeTrainSql = {
    val steps = (1 to BpeTrainMerges).map { n =>
      s"SELECT $n AS step, a AS lhs, b AS rhs, a || b AS merged, cnt FROM b$n"
    }.mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT step, lhs, rhs, merged, cnt FROM (
       |  $steps)
       |ORDER BY step""".stripMargin
  }

  /** Per-(source, lang) corpus profile: document count, exact byte
    * budget, integer-exact mean length, and the exact-duplicate count
    * inside each stratum (count minus distinct md5 of the raw text) —
    * the partition-level curation dashboard. One scan, one shuffle on
    * the low-cardinality (source, lang) key; the md5 distinct rides the
    * same aggregation. */
  private def sourceStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_chars").as("total_chars"),
           (expr("sum(n_chars) * 100 div count(*)") / 100.0).as("avg_chars"),
           (count(lit(1)) - count_distinct(md5($"text"))).as("n_exact_dups"))
      .orderBy($"source", $"lang")
  }

  private val sourceStatsSql =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(CAST(sum(n_chars) AS HUGEINT) * 100 // count(*) AS BIGINT)/100.0 AS avg_chars,
      |  count(*) - count(DISTINCT md5(text)) AS n_exact_dups
      |FROM documents
      |GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  private val Bm25QLo   = 4   // query terms: df-ranks 4..11 (8 terms)
  private val Bm25QHi   = 11
  private val Bm25TopK  = 10

  /** BM25 top-k retrieval — the keyword-search ranking every
    * retrieval-augmented training pipeline runs over its corpus: an
    * 8-term query set scored with Okapi BM25 (k1 = 1.2, b = 0.75,
    * Lucene's non-negative `ln(1 + (N-df+0.5)/(df+0.5))` idf), top-10
    * documents per query term. The query set is corpus-derived (df-ranks
    * 4..11, ties by term) so the benchmark scales with the corpus
    * instead of hard-coding tokens.
    *
    * Determinism across engines — the [[unigramLogprob]] discipline,
    * extended to BM25's rational tf saturation: idf is the ONLY libm
    * value, rounded to 7 decimals then floored to integer micro-nats;
    * k1 and b become exact integer ratios (k1 = 6/5, b = 3/4) and avgdl
    * is fixed to integer CENTI-tokens (`t_tokens*100 div n_docs`), so
    * the per-term contribution is one integer expression:
    *   idf_unat * (22*tf*avgdl_c) div (10*tf*avgdl_c + 3*avgdl_c + 900*dl)
    * (multiply through `tf + k1*(1-b) + k1*b*dl/avgdl` by `10*avgdl_c`).
    * All aggregation is exact integer sums — order-free under Spark's
    * nondeterministic partial-agg order. Overflow headroom: the widest
    * product is idf_unat·22·tf·avgdl_c ≤ 2^63 ⟹ tf·avgdl_c ≤ ~2.7e10 —
    * safe past 10⁶-token documents at 10⁴-token mean length.
    *
    * Scale shape: the token stream never shuffles wide — `dl` and `df`
    * are map-side-combined aggs (≤1 row per doc / per vocab term per
    * input partition), the 8-row query relation and 1-row (N, T) totals
    * are broadcast, and the only per-match exchange carries (qid, term,
    * doc_id) triples for documents actually containing a query term.
    * Final top-10-per-qid is the rank≤k window TopKPerKeyStrategy
    * lowers to the native bounded-heap exec — no global sort. */
  private def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE token-stream scan, reduced to the (doc_id, term, c) posting
    // relation before anything else consumes it. The naive three-reader
    // shape (dl / df / tf each re-exploding the corpus) measured
    // 69.9/64.5 s at sf10p and 622.8 s at sf100p — linear, but paying
    // the norm+split+explode scan CPU three times; this single-scan
    // shape measured 28.5/20.5 s at sf10p (2.5-3.1×) and its only new
    // exchange is vocabulary-bounded (≤ |vocab| rows per doc after
    // map-side combine — the corpus vocab is small, so postings ≈
    // 31·|docs|, orders below the raw token stream). Contrast with
    // tx_unigram_logprob, where the SAME pre-reduction measured a wash:
    // there the two consumers re-read the stream through a broadcast
    // join (no exchange at all), so the saved scan was repaid by a new
    // wide distinct; here the third reader (tf) already exchanged, and
    // df = countDistinct(doc) collapses to count(*) over postings.
    val rel = Tbl.documents(s, d)
      .select($"doc_id", explode(split(norm($"text"), " ")).as("term"))
      .where($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
      .persist()
    val dl = rel.groupBy($"doc_id").agg(sum($"c").as("dl"))
    val nt = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_tokens"))
      .select($"n_docs", expr("t_tokens * 100 div n_docs").as("avgdl_c"))
    val dfreq = rel.groupBy($"term").agg(count(lit(1)).as("df"))
    val qw = org.apache.spark.sql.expressions.Window
      .orderBy($"df".desc, $"term")
    val qterms = dfreq.orderBy($"df".desc, $"term").limit(Bm25QHi)
      .withColumn("qid", row_number().over(qw))
      .where($"qid" >= Bm25QLo)
      .select($"qid", $"term", $"df")
    val tf = rel.join(broadcast(qterms), "term")
      .select($"qid", $"df", $"doc_id", $"c".as("tf"))
    val idf = floor(round(log(lit(1.0) +
        ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)), 7) * 1000000.0)
      .cast("long")
    val scored = tf.join(dl, "doc_id").crossJoin(broadcast(nt))
      .select($"qid", $"doc_id",
              (idf * (lit(22L) * $"tf" * $"avgdl_c")).as("cnum"),
              (lit(10L) * $"tf" * $"avgdl_c" +
                 lit(3L) * $"avgdl_c" + lit(900L) * $"dl").as("cden"))
      .select($"qid", $"doc_id", expr("cnum div cden").as("contrib"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"contrib").as("score_unat"))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"score_unat".desc, $"doc_id")
    scored.withColumn("rk", row_number().over(rw))
      .where($"rk" <= Bm25TopK)
      .orderBy($"qid", $"rk")
  }

  private val bm25Sql =
    s"""WITH ex AS (
       |  SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
       |  FROM documents),
       |ex2 AS (SELECT doc_id, term FROM ex WHERE term <> ''),
       |dl AS (SELECT doc_id, count(*) AS dl FROM ex2 GROUP BY 1),
       |nt AS (SELECT count(*) AS n_docs, sum(dl) * 100 // count(*) AS avgdl_c
       |       FROM dl),
       |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex2 GROUP BY 1),
       |q AS (SELECT qid, term, df FROM (
       |    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS qid
       |    FROM dfreq ORDER BY df DESC, term LIMIT $Bm25QHi)
       |  WHERE qid >= $Bm25QLo),
       |tf AS (SELECT q.qid, q.df, e.doc_id, count(*) AS tf
       |       FROM ex2 e JOIN q ON e.term = q.term GROUP BY 1, 2, 3),
       |sc AS (SELECT qid, t.doc_id,
       |    CAST(floor(round(ln(1.0 + (n.n_docs - t.df + 0.5) / (t.df + 0.5)), 7)
       |               * 1000000.0) AS BIGINT)
       |      * (22 * t.tf * n.avgdl_c)
       |      // (10 * t.tf * n.avgdl_c + 3 * n.avgdl_c + 900 * d.dl) AS contrib
       |  FROM tf t JOIN dl d ON t.doc_id = d.doc_id, nt n),
       |agg AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score_unat
       |        FROM sc GROUP BY 1, 2)
       |SELECT qid, doc_id, score_unat, rk FROM (
       |  SELECT qid, doc_id, score_unat,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score_unat DESC, doc_id) AS rk
       |  FROM agg)
       |WHERE rk <= $Bm25TopK ORDER BY qid, rk""".stripMargin

  /** Array higher-order-function surface end to end — the lambda
    * twin of `x_map_ops`: per-document token arrays reduced through
    * `aggregate` (fold), `filter`+`size`, `exists`, `forall`, and a
    * `zip_with` over two aligned `slice`s (adjacent-pair bigrams —
    * slicing BOTH sides to n−1 avoids zip_with's null padding, which
    * would turn the last pair into a bogus unigram under concat_ws's
    * null-skipping). Everything is ROW-LOCAL: one projection, no
    * shuffle, no join — the shape that stays embarrassingly parallel
    * at any corpus size, and the posture HOFs are legitimate in at
    * 100 TB (arrays as row documents, like x_map_ops' maps). The
    * split is staged through a materialized column before any lambda
    * touches it (TextNorm's 8×-measured HOF re-evaluation lesson).
    * DuckDB mirrors each lambda with list_transform/list_filter/
    * list_distinct and builds the bigrams with the comprehension
    * idiom the dot-product oracles already use. */
  private def arrayOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .withColumn("words", split(norm($"text"), " "))
      .withColumn("bigrams",
        zip_with(slice($"words", lit(1), size($"words") - 1),
                 slice($"words", lit(2), size($"words") - 1),
                 (a, b) => concat_ws("_", a, b)))
      .select($"doc_id",
        size($"words").as("n_tokens"),
        aggregate($"words", lit(0L), (acc, w) => acc + length(w))
          .as("sum_len"),
        size(filter($"words", w => length(w) > 7)).as("n_long"),
        exists($"words", w => w.rlike("^[0-9]+$")).as("has_num"),
        forall($"words", w => length(w) < 30).as("all_short"),
        size(array_distinct($"bigrams")).as("n_bigrams"))
      .orderBy($"doc_id")
  }

  /** Codegen-kernel twin of [[arrayOps]] (round-11 advisory: the HOF
    * form is the deliberate interpreted-surface pin — 27.1 s at sf100p
    * — and "a TextStats-style kernel twin would cut it"). Identical
    * output columns and oracle: all six statistics come from ONE
    * zero-allocation byte pass ([[org.apache.spark.sql.graft.TokenArrayStats]])
    * instead of six materialized-array HOF evaluations, so the whole
    * projection stays inside whole-stage codegen. Bit-parity with the
    * HOF form is pinned corpus-wide in TextStatsSpec. */
  private def arrayOpsKernel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .withColumn("st",
        org.apache.spark.sql.graft.TokenArrayStats.of(norm($"text")))
      .select($"doc_id",
        $"st".getItem(0).cast("int").as("n_tokens"),
        $"st".getItem(1).as("sum_len"),
        $"st".getItem(2).cast("int").as("n_long"),
        ($"st".getItem(3) === 1L).as("has_num"),
        ($"st".getItem(4) === 1L).as("all_short"),
        $"st".getItem(5).cast("int").as("n_bigrams"))
      .orderBy($"doc_id")
  }

  private val arrayOpsSql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS words
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, words,
       |    [words[i] || '_' || words[i + 1]
       |     for i in generate_series(1, len(words) - 1)] AS bigrams
       |  FROM w)
       |SELECT doc_id,
       |  CAST(len(words) AS INTEGER) AS n_tokens,
       |  CAST(list_sum(list_transform(words, x -> length(x)))
       |       AS BIGINT) AS sum_len,
       |  CAST(len(list_filter(words, x -> length(x) > 7)) AS INTEGER)
       |    AS n_long,
       |  len(list_filter(words, x -> regexp_matches(x, '^[0-9]+$$'))) > 0
       |    AS has_num,
       |  len(list_filter(words, x -> length(x) >= 30)) = 0 AS all_short,
       |  CAST(len(list_distinct(bigrams)) AS INTEGER) AS n_bigrams
       |FROM b ORDER BY doc_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_array_ops"      -> (arrayOps _),
    "x_array_ops_kernel" -> (arrayOpsKernel _),
    "tx_tfidf"         -> (tfidf _),
    "tx_token_stats"   -> (tokenStats _),
    "tx_quality_score" -> (qualityScore _),
    "tx_lang_id"       -> (langId _),
    "tx_fingerprint"   -> (fingerprint _),
    "tx_model_filter"  -> (modelFilter _),
    "tx_corpus_sampler" -> (corpusSampler _),
    "tx_domain_mix"    -> (domainMix _),
    "tx_oov_rate"      -> (oovRate _),
    "tx_unigram_logprob" -> (unigramLogprob _),
    "tx_chunk_split"   -> (chunkSplit _),
    "tx_heavy_hitters" -> (heavyHitters _),
    "tx_bpe_pairs"     -> (bpePairs _),
    "tx_bpe_train"     -> (bpeTrain _),
    "tx_bpe_apply"     -> (bpeApply _),
    "tx_decontaminate" -> (decontaminate _),
    "tx_source_stats"  -> (sourceStats _),
    "tx_bm25"          -> (bm25 _))

  override val oracles: Map[String, String] = Map(
    "x_array_ops"      -> arrayOpsSql,
    "x_array_ops_kernel" -> arrayOpsSql,
    "tx_tfidf"         -> tfidfSql,
    "tx_token_stats"   -> tokenStatsSql,
    "tx_quality_score" -> qualityScoreSql,
    "tx_lang_id"       -> langIdSql,
    "tx_fingerprint"   -> fingerprintSql,
    "tx_model_filter"  -> modelFilterSql,
    "tx_corpus_sampler" -> corpusSamplerSql,
    "tx_domain_mix"    -> domainMixSql,
    "tx_oov_rate"      -> oovRateSql,
    "tx_unigram_logprob" -> unigramLogprobSql,
    "tx_chunk_split"   -> chunkSplitSql,
    "tx_heavy_hitters" -> heavyHittersSql,
    "tx_bpe_pairs"     -> bpePairsSql,
    "tx_bpe_train"     -> bpeTrainSql,
    "tx_bpe_apply"     -> bpeApplySql,
    "tx_decontaminate" -> decontaminateSql,
    "tx_source_stats"  -> sourceStatsSql,
    "tx_bm25"          -> bm25Sql)
}
