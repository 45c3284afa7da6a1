package graft.operators

import graft.{QueryModule, Tbl}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication surface for the LLM-training-data mandate: exact
  * (hash-group), MinHash+LSH banding, SimHash, and n-gram Jaccard — all
  * over `documents`.
  *
  * 100 TB design notes:
  *  - Exact dedup groups on a 128-bit content hash, never on the raw
  *    text — the shuffle carries 16 bytes + doc_id per row.
  *  - MinHash/LSH finds candidates via an equi-join on (band, bandHash)
  *    — the classic O(n·bands) bucket join, no quadratic comparison.
  *  - n-gram Jaccard uses the explode→join-on-gram→count formulation
  *    (|A∩B| from a shared-gram count aggregate), not array scans.
  *  - SimHash is a pure per-row fold over the word array (no shuffle),
  *    with integer bit-vote sums — exact in any evaluation order.
  *
  * Hash portability: minhash values are md5 hex strings (salted per hash
  * function), ordered lexicographically — identical in the DuckDB oracle,
  * no engine-specific hash functions anywhere.
  */
object DedupOps extends QueryModule {

  import TextNorm.{norm, normSql, withShingles, shinglesSql}

  /** Exact dedup: md5-of-content grouping; keeper = min doc_id. */
  private def exactDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy($"keeper")
  }

  private val exactDedupSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin

  /** Key dedup (dropDuplicates-at-scale, made deterministic): one keeper
    * per (lang, source) — min_by instead of Spark's arbitrary-row
    * dropDuplicates. */
  private def keyDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .groupBy($"lang", $"source")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_in_group"))
      .orderBy($"lang", $"source")
  }

  private val keyDedupSql =
    """SELECT lang, source, min(doc_id) AS keeper, count(*) AS n_in_group
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Normalized-text dedup ("fuzzy-exact", the C4/RefinedWeb first
    * pass): documents identical after lowercasing, punctuation
    * stripping, and whitespace collapse collapse to one keeper. Catches
    * the dominant near-dup class (casing/markup/whitespace variants) at
    * exact-dedup cost — a single groupBy on a 16-byte hash of the
    * canonical form ([[TextNorm.norm]], shared with the shingle family
    * so normalization can never silently diverge). Emitted per keeper
    * (not per hash) with the group size + canonical length, ordered on
    * the keeper id. */
  private def normDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.documents(s, d)
      .select($"doc_id", md5(norm($"text")).as("norm_hash"),
              length(norm($"text")).cast("long").as("norm_len"))
      .groupBy($"norm_hash")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_variants"),
           min($"norm_len").as("norm_len"))
      .orderBy($"keeper")
  }

  private val normDedupSql =
    s"""SELECT md5($normSql) AS norm_hash, min(doc_id) AS keeper,
       |       count(*) AS n_variants,
       |       CAST(min(length($normSql)) AS BIGINT) AS norm_len
       |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin

  private val NumHashes = 12
  private val NumBands = 6 // 6 bands × 2 rows: ~30× fewer candidate pairs
                           // than 12×1 on low-entropy corpora (measured:
                           // 377 vs 10,948 pairs/band at sf0.1)

  /** MinHash signature h ∈ [0, NumHashes): min over shingles of the h-th
    * 5-hex-char window of a per-shingle 64-char digest (md5(x)‖md5('s:'x)).
    * Non-overlapping windows of independent digest bits give 12
    * independent 20-bit hash functions from TWO md5 calls per shingle
    * instead of twelve (measured 2.5× on the whole query at sf0.1);
    * lexicographic min over fixed-width lowercase hex is engine-portable.
    * The Spark side computes all 12 in one fused kernel pass
    * ([[org.apache.spark.sql.graft.MinhashSigs]], parity-pinned in
    * TextDigestsSpec); the oracle states the staged per-window form. */
  private def minhashSql(h: Int) =
    s"list_min(list_transform(hxs, x -> substr(x, ${1 + 5 * h}, 5)))"

  /** MinHash + LSH near-dup candidates: 12 minhashes banded 2-per-band
    * (band hash = md5 of the concatenated pair); docs sharing any band
    * bucket become a candidate pair and are then verified with exact
    * Jaccard on their shingle sets. */
  private def minhashLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: referenced by both sides of the band self-join AND both
    // jaccard-verify join-backs — without it the shingle+minhash pipeline
    // is recomputed 4x (it's ids + small string arrays: ~MBs/1M docs)
    val docs = withShingles(Tbl.documents(s, d))
      .select($"doc_id", $"sh")
      .persist()
    // all 12 signatures in ONE fused kernel pass (MinhashSigs): the
    // staged form (Md5PairDigests then 12 interpreted transform/
    // array_min walks over the 64-char digest array) was 63% of the
    // sf10 wall — 105.8 s of 167.7 s, Audit round 8; the fused kernel
    // computes the digest into a reused buffer and keeps running
    // 5-byte window mins, emitting bit-identical signatures (parity
    // spec in TextDigestsSpec; oracle untouched). sigs persisted:
    // both band-join sides use it.
    val mhs = org.apache.spark.sql.graft.MinhashSigs.of($"sh", NumHashes).as("mhs")
    val sigs = docs.select($"doc_id", mhs)
      .select(($"doc_id" +:
        (0 until NumHashes).map(h => element_at($"mhs", h + 1).as(s"mh_$h"))): _*)
      .persist()
    // explode_outer, not explode: InferFiltersFromGenerate would infer
    // size(...)>0 from an inner explode and push the ENTIRE generator
    // expression into a scan-level Filter, re-evaluating the minhash /
    // shingle pipeline once more per row (measured 2x). Arrays here are
    // never null/empty, so outer ≡ inner.
    val bands = sigs.select($"doc_id",
      explode_outer(array((0 until NumBands).map(b =>
        struct(lit(b).as("band"),
               md5(concat(col(s"mh_${2 * b}"), col(s"mh_${2 * b + 1}"))).as("bh"))): _*)).as("b"))
      .select($"doc_id", $"b.band", $"b.bh")
    val pairs = bands.as("l")
      .join(bands.as("r"),
            $"l.band" === $"r.band" && $"l.bh" === $"r.bh" &&
            $"l.doc_id" < $"r.doc_id")
      .select($"l.doc_id".as("a"), $"r.doc_id".as("b"))
      .distinct()
    val withSets = pairs
      .join(docs.select($"doc_id".as("a"), $"sh".as("sha")), "a")
      .join(docs.select($"doc_id".as("b"), $"sh".as("shb")), "b")
    // size(array_intersect), not filter+array_contains: the HOF form is
    // an interpreted O(|a|·|b|) scan per candidate pair (~36 s of the
    // sf10 wall over 1.08M pairs); ArrayIntersect is codegen'd with an
    // O(|a|+|b|) hash build. Equal counts because shingle arrays are
    // distinct by construction (Shingles3 dedups) — on a corpus with
    // duplicate elements the two forms would differ, so the invariant
    // lives here, next to the swap.
    val inter = size(array_intersect($"sha", $"shb"))
    // integer-scaled floor ratio (see ngramJaccard): engine-identical
    withSets
      .select($"a", $"b", inter.as("i"),
              (size($"sha") + size($"shb") - inter).as("u"))
      .select($"a", $"b",
              (expr("CAST(i AS BIGINT) * 1000000 div u").cast("double")
                 / 1000000.0).as("jaccard"))
      .where($"jaccard" >= 0.05)
      .orderBy($"a", $"b")
  }

  private val minhashLshSql = {
    val mhCols = (0 until NumHashes).map(h => s"${minhashSql(h)} AS mh_$h").mkString(",\n    ")
    val bandStructs = (0 until NumBands)
      .map(b => s"{'band': $b, 'bh': md5(mh_${2 * b} || mh_${2 * b + 1})}").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |hx AS (SELECT doc_id,
       |    list_transform(sh, x -> md5(x) || md5('s:' || x)) AS hxs
       |  FROM docs),
       |sigs AS (SELECT doc_id,
       |    $mhCols
       |  FROM hx),
       |bands AS (
       |  SELECT doc_id, u.band AS band, u.bh AS bh
       |  FROM sigs, LATERAL unnest([$bandStructs]) t(u)),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)
       |SELECT a, b,
       |  CAST(CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS BIGINT) * 1000000
       |       // (len(da.sh) + len(db.sh)
       |           - len(list_filter(da.sh, x -> list_contains(db.sh, x)))) AS BIGINT)
       |    / 1000000.0 AS jaccard
       |FROM pairs JOIN docs da ON da.doc_id = a JOIN docs db ON db.doc_id = b
       |WHERE CAST(CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS BIGINT) * 1000000
       |       // (len(da.sh) + len(db.sh)
       |           - len(list_filter(da.sh, x -> list_contains(db.sh, x)))) AS BIGINT)
       |    / 1000000.0 >= 0.05
       |ORDER BY a, b""".stripMargin
  }

  private val SimhashBits = 32
  private val HexDigits = "0123456789abcdef"

  /** 32-bit SimHash over word occurrences: per bit, every word votes
    * ±1 by the corresponding md5 bit; bit set iff the vote sum is
    * positive. Pure integer votes — exact in any order.
    *
    * Engine shape (rewritten after the round-10 bench-harness fix
    * exposed the real cost): the original form ran 32 separate
    * `aggregate` HOF folds, each RE-WALKING the whole token-hash array
    * doing substr+instr STRING ops per bit — 8.1 s at sf0.1 (20k
    * docs), all of it scan-stage string CPU. Now each token's first 8
    * md5 hex chars parse ONCE to a 32-bit integer and the 32 votes are
    * shift/mask arithmetic inside a map-side-combined groupBy — the
    * exchange carries |docs| rows of 32 partial sums, and the explode
    * never shuffles. Measured 8.1 → 1.0 s warm at sf0.1; identical
    * simhash values (bit i = bit 4·(7 − i/4) + i%4 of the parsed int,
    * exactly the hex-char arithmetic the UNCHANGED DuckDB oracle still
    * computes — the hash match certifies the remap). */
  private def voteDuck(i: Int): String = {
    val hexPos = i / 4 + 1
    val shift = 1 << (i % 4)
    s"list_sum([((strpos('$HexDigits', substr(h, $hexPos, 1)) - 1) // $shift) % 2 * 2 - 1 for h in hx])"
  }

  private def simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val voteCols = (0 until SimhashBits).map { i =>
      val sh = 4 * (7 - i / 4) + i % 4
      sum(expr(s"(shiftright(v, $sh) & 1) * 2 - 1")).as(s"v_$i")
    }
    val hashSum = (0 until SimhashBits)
      .map(i => s"CASE WHEN v_$i > 0 THEN ${1L << i}L ELSE 0L END")
      .mkString(" + ")
    Tbl.documents(s, d)
      .select($"doc_id", explode(split(norm($"text"), " ")).as("w"))
      .select($"doc_id",
              expr("CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)")
                .as("v"))
      .groupBy($"doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .selectExpr("doc_id", s"$hashSum AS simhash")
      .orderBy($"doc_id")
  }

  private val simhashSql = {
    val voteCols = (0 until SimhashBits).map(i => s"${voteDuck(i)} AS v_$i").mkString(",\n    ")
    val hashSum = (0 until SimhashBits)
      .map(i => s"CASE WHEN v_$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, $hashSum AS simhash
       |FROM (SELECT doc_id, $voteCols
       |      FROM (SELECT doc_id, list_transform(string_split($normSql, ' '), w -> md5(w)) AS hx
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** A single gram shared by k docs contributes k² pairs to the gram
    * self-join — one ubiquitous trigram on a low-entropy corpus (think
    * boilerplate headers at 100 TB) is a quadratic blow-up. Grams with
    * document frequency above this cap are excluded from the
    * intersection estimate (making reported Jaccard a lower bound for
    * pairs that share ubiquitous grams — the standard LSH-dedup
    * trade-off); union sizes stay uncapped. Measured max df: 5 at
    * sf0.01, 14 at sf0.1 — the cap is inert on the test corpora and
    * exists to bound the worst case. */
  private val GramDfCap = 50

  /** n-gram (word-trigram) Jaccard similarity via the scalable
    * explode→join-on-gram→count formulation, blocked by language:
    * |A∩B| comes from a per-pair shared-gram count, |A∪B| from the
    * per-doc distinct-gram counts — no quadratic array scans. Trigrams
    * (not bigrams) keep per-gram document frequency low; the df cap
    * bounds the pair blow-up on low-entropy corpora outright. */
  private def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: both self-join sides + both count join-backs derive
    // from this (4 references)
    val docGrams = withShingles(Tbl.documents(s, d))
      .select($"doc_id", $"lang", $"sh".as("g"))
      .persist()
    val counts = docGrams.select($"doc_id", size($"g").as("ng"))
    val exploded = docGrams.select($"doc_id", $"lang", explode_outer($"g").as("gram"))
    // high-df gram cap: df per (lang, gram), keep rare grams only; the
    // df aggregate and the pair join shuffle on the same (lang, gram)
    // key, so the extra pass reuses the exchange layout
    val gramDf = exploded.groupBy($"lang", $"gram").agg(count(lit(1)).as("df"))
    // persisted: both sides of the pair self-join read `kept`; without it
    // each side re-runs the explode + df aggregate + filter join
    // (measured 3× on the whole query at sf0.1)
    val kept = exploded
      .join(gramDf.where($"df" <= GramDfCap), Seq("lang", "gram"))
      .select($"doc_id", $"lang", $"gram")
      .persist()
    val shared = kept.as("l")
      .join(kept.as("r"),
            $"l.lang" === $"r.lang" && $"l.gram" === $"r.gram" &&
            $"l.doc_id" < $"r.doc_id")
      .groupBy($"l.doc_id".as("a"), $"r.doc_id".as("b"))
      .agg(count(lit(1)).as("inter"))
    // integer-scaled floor (ppm/1e6): round() after a double division
    // resolves .5 boundaries differently across engines
    shared
      .join(counts.select($"doc_id".as("a"), $"ng".as("na")), "a")
      .join(counts.select($"doc_id".as("b"), $"ng".as("nb")), "b")
      .select($"a", $"b",
              (expr("inter * 1000000 div (na + nb - inter)").cast("double")
                 / 1000000.0).as("jaccard"))
      .where($"jaccard" >= 0.05)
      .orderBy($"a", $"b")
  }

  private val ngramJaccardSql = {
    s"""WITH dg AS (
       |  SELECT doc_id, lang, $shinglesSql AS g
       |  FROM documents),
       |counts AS (SELECT doc_id, len(g) AS ng FROM dg),
       |ex AS (SELECT doc_id, lang, unnest(g) AS gram FROM dg),
       |gd AS (SELECT lang, gram, count(*) AS df FROM ex GROUP BY 1, 2),
       |exk AS (SELECT ex.doc_id, ex.lang, ex.gram
       |        FROM ex JOIN gd ON ex.lang = gd.lang AND ex.gram = gd.gram
       |        WHERE gd.df <= $GramDfCap),
       |shared AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
       |  FROM exk l JOIN exk r
       |    ON l.lang = r.lang AND l.gram = r.gram AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b,
       |  CAST(inter * 1000000 // (ca.ng + cb.ng - inter) AS BIGINT) / 1000000.0 AS jaccard
       |FROM shared JOIN counts ca ON ca.doc_id = a JOIN counts cb ON cb.doc_id = b
       |WHERE CAST(inter * 1000000 // (ca.ng + cb.ng - inter) AS BIGINT) / 1000000.0 >= 0.05
       |ORDER BY a, b""".stripMargin
  }

  /** Duplicate-cluster resolution: connected components over the
    * verified MinHash near-dup pair graph, cluster id = min doc_id of
    * the component — pairs are evidence, clusters are what a dedup
    * pipeline actually ships (keep one doc per cluster).
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbors; converges in
    * O(component diameter) rounds, each one distributed join + groupBy.
    * The driver's only role is the convergence check (a count per
    * round) — the standard shape for iterative graph algorithms on
    * Spark. At 100 TB add `localCheckpoint` every few rounds to truncate
    * lineage, and the large-star/small-star optimization if components
    * are deep; near-dup components are shallow in practice (dup clusters
    * are cliques-ish), so rounds ≈ 2-3. */
  private def dupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = minhashLsh(s, d).select($"a", $"b").persist()
    // the label/edge relations are PAIR-GRAPH-sized (near-dup density ×
    // corpus, orders below the corpus itself) and each propagation round
    // is a few joins over them: run the loop at a partition count sized
    // to that volume, not the session default — the same
    // measure-then-size lesson as the streaming state knob. Restored
    // after the loop; at a 100 TB pair graph raise it with the graph.
    graft.Session.withConf(s, "spark.sql.shuffle.partitions" -> "4")(
      dupClustersLoop(s, pairs))
  }

  /** `private[graft]` so the randomized suite can drive it with planted
    * graphs (deep paths) that the corpus near-dup pairs never produce. */
  private[graft] def dupClustersLoop(s: SparkSession,
                                     pairs: DataFrame): DataFrame = {
    import s.implicits._
    val edges = pairs.union(pairs.select($"b", $"a")).toDF("src", "dst").persist()
    var labels = edges.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("cluster")).persist()
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val nbrMin = edges
        .join(labels.select($"doc_id".as("dst"), $"cluster".as("nbr_c")), "dst")
        .groupBy($"src".as("doc_id")).agg(min($"nbr_c").as("nbr_min"))
      // localCheckpoint, not persist: each round's plan builds on the
      // previous round's, so a cached-but-lazy lineage grows linearly
      // with component diameter — a deep component at 100 TB blows the
      // planner long before the 50-round guard throws. The local
      // checkpoint truncates lineage to the materialized RDD each round
      // (round-4 VERDICT item #2). eager = false (r15): the convergence
      // count() below materializes the checkpoint in ITS job anyway, so
      // the eager form's separate materialization job per round was
      // pure scheduling overhead — lazy is the same compute, one job
      // per round instead of two.
      // the round result CARRIES the previous label, so the convergence
      // check is a filter over the already-materialized checkpoint — one
      // distributed join per round, not two (the old shape re-joined
      // next against labels just to count changes)
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select($"doc_id", $"cluster".as("prev"),
                least($"cluster", coalesce($"nbr_min", $"cluster")).as("cluster"))
        .localCheckpoint(eager = false)
      val changed = next.where($"cluster" =!= $"prev").count()
      // no explicit unpersist: from round 2 on, `labels` is a
      // localCheckpoint'd Dataset whose blocks live at the RDD level,
      // where Dataset.unpersist (CacheManager) is a no-op anyway —
      // dropping the reference leaves the orphaned checkpoint blocks to
      // the ContextCleaner, which is the actual release path (round-5
      // ADVICE: the old unpersist() call suggested cleanup that never
      // happened). Label relations are keys-sized, 50-round-capped.
      labels = next.select($"doc_id", $"cluster")
      converged = changed == 0
      rounds += 1
    }
    // silent unconverged labels would be a WRONG clustering (far nodes
    // keep intermediate labels) — fail loudly instead; the cap exists
    // only as a runaway guard, real near-dup components are shallow
    if (!converged)
      throw new IllegalStateException(
        s"dup-cluster propagation did not converge in $rounds rounds " +
        "(component diameter > cap); raise the cap or use star-contraction")
    pairs.unpersist(); edges.unpersist()
    labels.orderBy($"doc_id")
  }

  private val dupClustersSql =
    s"""WITH RECURSIVE mh AS (
       |$minhashLshSql
       |),
       |edges AS (SELECT a, b FROM mh UNION ALL SELECT b, a FROM mh),
       |reach AS (
       |  SELECT a AS node, b AS r FROM edges
       |  UNION
       |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
       |SELECT node AS doc_id, least(node, min(r)) AS cluster
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  private val SpanW = 8 // words per rolling span

  /** Duplicate-SPAN detection (the ExactSubstr lineage — Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * every OVERLAPPING 8-word span of every document is fingerprinted,
    * and a span whose fingerprint occurs more than once corpus-wide is a
    * duplicated span; each doc reports its duplicated-span ppm — the
    * repeated-passage statistic that whole-doc and fixed-chunk dedup
    * both miss (a quote or boilerplate paragraph INSIDE otherwise-unique
    * documents). The suffix-array formulation of the paper is
    * single-machine; rolling fixed-width fingerprints are its
    * shuffle-friendly corpus-scale shape.
    *
    * Scale shape: span fan-out is ~1 row per word (16-byte hash + two
    * ids, never text); corpus-wide df is one hash-keyed agg, and the
    * df join back is hash-to-hash. The within-doc span build is a
    * per-row HOF over a materialized `words` attribute (TextNorm
    * discipline). */
  private def dupSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sp = Tbl.documents(s, d)
      .withColumn("words", split(norm($"text"), " "))
      .where(size($"words") >= SpanW)
      // native rolling-span kernel (same bytes as the former
      // transform(i -> md5(concat_ws(' ', slice(words, i, W)))) HOF,
      // which ran interpreted per span — ~1 span per word of the corpus)
      .select($"doc_id",
              explode(org.apache.spark.sql.graft.SpanMd5s.of($"words", SpanW))
                .as("h"))
      .persist() // both the df agg and the join-back read it
    val df = sp.groupBy($"h").agg(count(lit(1)).as("df"))
    // materialize the doc-sized result eagerly (localCheckpoint), then
    // release the span cache — a lazily returned plan would either pin
    // ~1 row/word of cache for the session lifetime or recompute the
    // span fan-out twice (round-4 ADVICE)
    val res = sp.join(df, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum(when($"df" > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ppm", expr("n_dup_spans * 1000000 div n_spans"))
      .localCheckpoint()
    sp.unpersist()
    res.orderBy($"doc_id")
  }

  private val dupSpansSql =
    s"""WITH w AS (
       |  SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
       |sp AS (
       |  SELECT doc_id,
       |         md5(array_to_string(words[i : i + ${SpanW - 1}], ' ')) AS h
       |  FROM w, LATERAL unnest(generate_series(1, len(words) - ${SpanW - 1})) t(i)
       |  WHERE len(words) >= $SpanW),
       |df AS (SELECT h, count(*) AS df FROM sp GROUP BY h)
       |SELECT sp.doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
       |       AS BIGINT) AS dup_ppm
       |FROM sp JOIN df ON sp.h = df.h
       |GROUP BY sp.doc_id ORDER BY doc_id""".stripMargin

  /** Incremental (cross-snapshot) dedup: a NEW batch of documents
    * (doc_id odd) lands against an already-deduplicated CORPUS (doc_id
    * even) — keep only batch docs whose content hash appears nowhere in
    * the corpus, then collapse the batch's internal duplicates to one
    * keeper. This is the ingest-time gate every growing corpus runs:
    * dd_exact from scratch each snapshot would re-shuffle 100 TB; the
    * incremental form touches the new batch plus the corpus's 16-byte
    * hash column only.
    *
    * Scale shape: the corpus side projects to md5 hashes straight off
    * the scan (column pruning drops the text bytes), collapses to a
    * distinct set, and anti-joins the batch on the hash — one shuffle
    * of hashes, never content. At a real 100 TB ingest the corpus hash
    * set lives as its own bucketed table so the anti-join is
    * shuffle-free on the corpus side, and a bloom filter of it
    * pre-drops the obviously-new batch rows before the exchange. */
  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tbl.documents(s, d)
    val corpusHashes = docs.where($"doc_id" % 2 === 0)
      .select(md5($"text").as("content_hash")).distinct()
    docs.where($"doc_id" % 2 === 1)
      .select(md5($"text").as("content_hash"), $"doc_id")
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .groupBy($"content_hash")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_in_batch"))
      .orderBy($"keeper")
  }

  private val incrementalDedupSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
      |       count(*) AS n_in_batch
      |FROM documents
      |WHERE doc_id % 2 = 1
      |  AND md5(text) NOT IN
      |      (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)
      |GROUP BY 1 ORDER BY keeper""".stripMargin

  /** Exact-threshold set-similarity join via PREFIX FILTERING (the
    * PPJoin family): for Jaccard ≥ t, two trigram sets MUST share at
    * least one token among each set's (n − ⌈t·n⌉ + 1)-token prefix in
    * a global rare-first order — so candidate generation joins only on
    * prefix tokens, not every shared gram. Three reductions compose:
    *  - prefix filter: ~(1−t) of each doc's grams enter the join, and
    *    they are the RAREST grams (global (df, gram) order), so prefix
    *    collisions are the low-df end of the gram spectrum;
    *  - length filter, inside the join condition: |A| and |B| within
    *    a factor t of each other or the threshold is unreachable;
    *  - fused verify: each side carries its full gram array through
    *    the prefix exchange once (the `sim_emb_neardup` signature-
    *    exchange pattern), so the exact |A∩B| is computed at the
    *    collision site — no per-pair exchange, no second join tier.
    * Unlike `dd_ngram_jaccard` (all shared-gram pairs counted, df cap
    * trading recall for the bound), the prefix join is EXACT at its
    * threshold: the oracle states the UNFILTERED ground truth
    * (every shared-gram pair, exact intersection), so a hash match
    * proves the prefix+length filters are lossless, not just
    * self-consistent. */
  private val PrefixT = (6, 10) // Jaccard threshold 0.6 as an exact rational

  private def prefixJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val (tn, td) = PrefixT
    val docGrams = withShingles(Tbl.documents(s, d))
      .select($"doc_id", $"sh").persist()
    val ex = docGrams.select($"doc_id", explode($"sh").as("gram"))
    // global document frequency = the canonical rare-first token order;
    // vocabulary-sized relation, shuffled on the same gram key the
    // prefix join uses
    val gramDf = ex.groupBy($"gram").agg(count(lit(1)).as("df"))
    // (df, gram) is unique within a doc (grams are distinct), so the
    // per-doc rank — and with it the prefix — is deterministic
    val ranked = ex.join(gramDf, "gram")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"gram")))
    val pref = ranked
      .join(docGrams.withColumn("n", size($"sh")), "doc_id")
      .where($"rk" <= $"n" - expr(s"($tn * n + ${td - 1}) div $td") + 1 &&
             // df = 1 prefix tokens can NEVER generate a candidate: a
             // pair colliding on gram g needs g in BOTH docs, i.e.
             // df(g) >= 2 — and the rare-first prefix order piles the
             // df=1 grams into exactly these prefixes, so dropping them
             // (AFTER the rank is computed over the full gram set, so
             // the prefix itself is unchanged) is a lossless cut of the
             // self-join input (guide §2.3 shuffle fewer bytes / §3.2
             // pre-filter; r16). Recall proof: lost pairs would need a
             // shared prefix gram with df < 2 — impossible.
             $"df" >= 2)
      .select($"doc_id", $"gram", $"n", $"sh")
      // persisted: both self-join sides read the prefix relation;
      // without it each side re-runs the df + array prep joins (the
      // same lesson ngramJaccard's `kept` records)
      .persist()
    pref.as("l")
      // SMJ kept, MEASURED (r15): a SHUFFLE_HASH hint was tried — the
      // theory said the SMJ pays two sorts of the ~1 KB array-carrying
      // rows — and LOST on the only near-quiet bench line (2.39 → 3.77 s
      // at sf0.1, steal 0.3): Tungsten's sort moves pointers+prefixes,
      // not the 1 KB payloads, while the hash build materializes and
      // copies every build row into the map. The j8/j9 hint stands
      // because THEIR pathology was a mis-estimated broadcast, not SMJ.
      .join(pref.as("r"),
            $"l.gram" === $"r.gram" && $"l.doc_id" < $"r.doc_id" &&
            lit(td) * least($"l.n", $"r.n") >=
              lit(tn) * greatest($"l.n", $"r.n"))
      .select($"l.doc_id".as("a"), $"r.doc_id".as("b"),
              size(array_intersect($"l.sh", $"r.sh")).cast("long").as("i"),
              $"l.n".cast("long").as("na"), $"r.n".cast("long").as("nb"))
      .where(lit(td) * $"i" >= lit(tn) * ($"na" + $"nb" - $"i"))
      .select($"a", $"b",
              expr("i * 1000 div (na + nb - i)").as("jacc_permille"))
      // a pair colliding on m prefix grams appears m times with the
      // same exact jaccard — filter-then-distinct, as in the fused
      // near-dup verify
      .distinct()
      .orderBy($"a", $"b")
  }

  private val prefixJoinSql = {
    val (tn, td) = PrefixT
    s"""WITH dg AS (SELECT doc_id, $shinglesSql AS g FROM documents),
       |n AS (SELECT doc_id, len(g) AS n FROM dg),
       |ex AS (SELECT doc_id, unnest(g) AS gram FROM dg),
       |shd AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
       |        FROM ex l JOIN ex r
       |          ON l.gram = r.gram AND l.doc_id < r.doc_id
       |        GROUP BY 1, 2)
       |SELECT a, b,
       |  CAST(i * 1000 // (na.n + nb.n - i) AS BIGINT) AS jacc_permille
       |FROM shd JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b
       |WHERE $td * i >= $tn * (na.n + nb.n - i)
       |ORDER BY a, b""".stripMargin
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_prefix_join"   -> (prefixJoin _),
    "dd_dup_spans"     -> (dupSpans _),
    "dd_exact"         -> (exactDedup _),
    "dd_incremental"   -> (incrementalDedup _),
    "dd_norm_dedup"    -> (normDedup _),
    "dd_key_dedup"     -> (keyDedup _),
    "dd_minhash_lsh"   -> (minhashLsh _),
    "dd_dup_clusters"  -> (dupClusters _),
    "dd_simhash"       -> (simhash _),
    "dd_ngram_jaccard" -> (ngramJaccard _))

  override val oracles: Map[String, String] = Map(
    "dd_prefix_join"   -> prefixJoinSql,
    "dd_dup_spans"     -> dupSpansSql,
    "dd_exact"         -> exactDedupSql,
    "dd_incremental"   -> incrementalDedupSql,
    "dd_norm_dedup"    -> normDedupSql,
    "dd_key_dedup"     -> keyDedupSql,
    "dd_minhash_lsh"   -> minhashLshSql,
    "dd_dup_clusters"  -> dupClustersSql,
    "dd_simhash"       -> simhashSql,
    "dd_ngram_jaccard" -> ngramJaccardSql)
}
