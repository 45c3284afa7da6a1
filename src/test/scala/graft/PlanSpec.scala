package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.graft.TopKPerKeyExec

/** Physical-plan regression tests: the 100 TB posture is a property of
  * the PLAN, not the result — a query can hash-match the oracle while
  * silently full-scanning or re-shuffling. These specs pin the plan
  * shapes the scale design depends on, so an innocent refactor that,
  * say, breaks predicate pushdown fails CI instead of shipping a 100×
  * regression that no correctness check can see.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val d = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    val p = df.queryExecution.executedPlan
    p.execute() // materialize AQE so final plan shapes are visible
    p
  }
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }

  test("filter pushdown: w2 IN-list reaches the parquet scan as PushedFilters") {
    val p = executed(SparkEntry.queries("w2_in_filter")(spark, d))
    val pushed = scans(p).flatMap(_.dataFilters).mkString(";")
    assert(pushed.nonEmpty, s"no data filters at scan:\n$p")
  }

  test("column pruning: q1 reads only the lineitem columns it needs") {
    val p = executed(SparkEntry.queries("q1_pricing_summary")(spark, d))
    val readCols = scans(p).map(_.schema.fieldNames.toSet).reduce(_ ++ _)
    // 16-column lineitem; the pricing summary needs 7
    assert(readCols.size <= 7, s"scan reads too many columns: $readCols")
  }

  test("broadcast join: star-schema dims broadcast, fact never shuffles for the join") {
    val p = executed(SparkEntry.queries("j2_star_revenue")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected BroadcastHashJoin in:\n$p")
  }

  test("bucketed join: co-located layout leaves zero shuffle before the join") {
    // force the join path (not broadcast) to prove bucketing removes the Exchange
    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = executed(SparkEntry.queries("x_bucketed_join")(spark, d))
      // post-join agg/sort shuffles are expected; below the JOIN there must be none
      val joins = collectWithSubqueries(p) {
        case j: org.apache.spark.sql.execution.joins.ShuffledJoin => j
      }
      assert(joins.nonEmpty, s"expected a shuffled-family join in:\n$p")
      val shufflesUnderJoin = joins.flatMap(j => collect(j) {
        case e: ShuffleExchangeLike => e
      })
      assert(shufflesUnderJoin.isEmpty, s"bucketed join still shuffles its inputs:\n$p")
      assert(scans(p).forall(_.bucketedScan), "scan did not use bucketed layout")
    }
  }

  test("partition pruning: event_type filter prunes to one partition dir") {
    val p = executed(SparkEntry.queries("x_partition_pruning")(spark, d))
    val s = scans(p)
    assert(s.exists(_.partitionFilters.nonEmpty), s"no partition filters:\n$p")
    // pruned scan must carry no event_type data filter (it's layout, not compute)
    assert(s.forall(!_.dataFilters.exists(_.toString.contains("event_type"))))
  }

  test("whole-stage codegen: flagship q1 aggregation runs inside generated code") {
    val p = executed(SparkEntry.queries("q1_pricing_summary")(spark, d))
    val ws = collectWithSubqueries(p) { case w: WholeStageCodegenExec => w }
    assert(ws.nonEmpty, s"no WholeStageCodegen spans in:\n$p")
  }

  test("partial aggregation: q1 combines map-side before the exchange") {
    val p = executed(SparkEntry.queries("q1_pricing_summary")(spark, d))
    val aggModes = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.aggregateExpressions.map(_.mode.toString)
    }.flatten
    assert(aggModes.contains("Partial") && aggModes.contains("Final"),
           s"expected Partial+Final agg, got $aggModes")
  }

  test("ANN assignment is a projection: no shuffle below the corpus side of the bucket join") {
    // bucket/cell ids come from literal plane/centroid vectors — a per-row
    // map, so the corpus reaches its equi-join unshuffled (the round-1
    // crossJoin×8/×16 + groupBy/window formulation exchanged the corpus).
    for (q <- Seq("sim_lsh_ann", "sim_ivf_ann")) {
      val p = executed(SparkEntry.queries(q)(spark, d))
      val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$q: expected broadcast bucket join in:\n$p")
      val streamedShuffles = bhj.flatMap { j =>
        val streamed = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
          case _                                                  => j.right
        }
        collect(streamed) { case e: ShuffleExchangeLike => e }
      }
      assert(streamedShuffles.isEmpty,
             s"$q: corpus side shuffles before the bucket join:\n$p")
    }
  }

  test("spatial neighbor join is grid-blocked: equi-join only, no all-pairs product") {
    // the 3×3 neighborhood expansion must keep the join a hash equi-join
    // on (cell, bucket) — a cross/NL product here is the O(n²) scan the
    // blocking exists to prevent
    val p = executed(SparkEntry.queries("j7_spatial_join")(spark, d))
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nested.isEmpty, s"spatial pair join is not an equi-join:\n$p")
  }

  test("fuzzy join is neighborhood-blocked: equi-join only, no all-pairs product") {
    // the deletion-variant expansion must keep the candidate join a hash
    // equi-join on the variant key — a cross/NL product here is the
    // O(n²) levenshtein scan the FastSS blocking exists to prevent
    val p = executed(SparkEntry.queries("j8_fuzzy_join")(spark, d))
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nested.isEmpty, s"fuzzy candidate join is not an equi-join:\n$p")
  }

  test("embedding near-dup is bucket-blocked: equi-join only, no all-pairs product") {
    val p = executed(SparkEntry.queries("sim_emb_neardup")(spark, d))
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nested.isEmpty, s"near-dup pair join is not an equi-join:\n$p")
  }

  test("embedding near-dup fused path: payload rides the signature exchange once," +
       " never a per-pair exchange") {
    // the beyond-broadcast-ceiling shape (round-9 sf100p OOM): no broadcast
    // of the corpus, the embedding column crosses exactly ONE built shuffle
    // (the (band,bkt) signature exchange; the self-join's other side must be
    // a ReusedExchange of it), and every exchange ABOVE the verify join
    // carries ids/cosine only — a pair-level payload exchange is the
    // 22 KB/vector spill this path exists to prevent
    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
                     "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = executed(SparkEntry.queries("sim_emb_neardup")(spark, d))
      val nested = collectWithSubqueries(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: BroadcastHashJoinExec => j
      }
      assert(nested.isEmpty, s"fused near-dup must not broadcast the corpus:\n$p")
      val built = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
      val carryingPayload = built.filter(
        _.child.output.exists(_.name == "embedding"))
      assert(carryingPayload.size == 1,
        s"embedding payload must cross exactly one built exchange, " +
        s"found ${carryingPayload.size}:\n$p")
      val reused = collectWithSubqueries(p) {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.nonEmpty,
        s"self-join's second side must reuse the signature exchange:\n$p")
    }
  }

  test("repetition metrics are map-only: per-doc signals never shuffle") {
    // max-bigram-count = longest equal run in the sorted bigram array, a
    // per-row fold; a groupBy formulation here would shuffle every
    // (doc, bigram) pair of the corpus
    val p = executed(SparkEntry.queries("tx_repetition")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1, s"repetition plan shuffles beyond the sort:\n$p")
  }

  test("PII scrub is map-only: no Exchange anywhere in the plan") {
    // redaction at 100 TB must be a pure projection pass; a shuffle here
    // means someone routed the text through an aggregate
    val p = executed(SparkEntry.queries("tx_pii_scrub")(spark, d)
      .sortWithinPartitions("doc_id")) // strip the display-only global sort
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    // the query's own orderBy contributes range-partitioning exchanges;
    // everything below it must be exchange-free
    assert(shuffles.size <= 1, s"scrub plan shuffles more than the sort:\n$p")
  }

  test("stratified sample filters before shuffling: one Exchange, after the predicate") {
    val p = executed(SparkEntry.queries("x_stratified_sample")(spark, d))
    // sampling 10-50% must drop rows at the scan stage; only the
    // post-filter per-stratum aggregate (plus its output sort) may shuffle
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"sample shuffles unsampled data:\n$p")
    val filters = collectWithSubqueries(p) {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.nonEmpty, "sampling predicate missing from the plan")
    // the filter must sit below every exchange (map side), not above one
    val filterAboveShuffle = filters.exists(f =>
      collect(f.child) { case e: ShuffleExchangeLike => e }.nonEmpty)
    assert(!filterAboveShuffle, s"sampling filter runs after a shuffle:\n$p")
  }

  test("k-means refine: literal-centroid assignment adds no shuffle before the agg") {
    // assignment must be a per-row projection; the only exchanges are the
    // constant-width (cell, dim) aggregate and the output sort
    val p = executed(SparkEntry.queries("sim_kmeans_refine")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"kmeans assignment shuffles the corpus:\n$p")
  }

  test("PQ encode is map-only: codes and reconstruction never shuffle the corpus") {
    // the 128 subvector scores + code lookup are literal-vector math; the
    // corpus must reach the broadcast query join unshuffled
    val p = executed(SparkEntry.queries("sim_pq_ann")(spark, d))
    val nlj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.nonEmpty, s"expected broadcast query crossJoin in:\n$p")
    val shufflesBelow = nlj.flatMap(j =>
      collect(j) { case e: ShuffleExchangeLike => e })
    assert(shufflesBelow.isEmpty, s"PQ encode shuffles before scoring:\n$p")
  }

  test("decontamination join is an equi-join on the gram: no nested-loop product") {
    val p = executed(SparkEntry.queries("tx_decontaminate")(spark, d))
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nested.isEmpty, s"contamination join is not an equi-join:\n$p")
  }

  test("incremental dedup: hash-only anti-join, text column never reaches the exchange") {
    // the corpus side must collapse to md5 hashes at the scan boundary —
    // at 100 TB the anti-join moves 16-byte keys, not document bytes
    val p = executed(SparkEntry.queries("dd_incremental")(spark, d))
    val readCols = scans(p).map(_.schema.fieldNames.toSet).reduce(_ ++ _)
    assert(readCols.subsetOf(Set("doc_id", "text")),
           s"dedup scan reads beyond (doc_id, text): $readCols")
    val anti = collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftAnti" => j
      case j: org.apache.spark.sql.execution.joins.ShuffledJoin
        if j.joinType.toString == "LeftAnti" => j
    }
    assert(anti.nonEmpty, s"expected hash anti-join in:\n$p")
  }

  test("seq packing: window partitioning is reused by the bin aggregate") {
    // cumsum shuffles on source once; groupBy(source, bin) must ride the
    // same hash partitioning (source ⊂ grouping key), so the whole query
    // is window-exchange + output sort — never a third shuffle
    val p = executed(SparkEntry.queries("tx_seq_pack")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"seq packing re-shuffles after the window:\n$p")
  }

  test("interval merge: both window passes and the merge agg share one exchange") {
    val p = executed(SparkEntry.queries("x_merge_intervals")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"interval merge shuffles beyond user_id + sort:\n$p")
  }

  test("cut-point bucketing bins map-side: cuts broadcast, corpus probe never sorts") {
    // the scale-safe twin of x_ntile_bucketing exists precisely to kill
    // the per-type corpus sort; if the bucket-assignment join stops
    // broadcasting or a sort sneaks under its probe side, the query has
    // regressed to the 5-task shape this plan pin exists to prevent
    val p = executed(SparkEntry.queries("x_cutpoint_bucketing")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"bucket assignment is not a broadcast join:\n$p")
    val probeSorts = bhj.flatMap { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case _ => j.right
      }
      streamed.collect { case s: org.apache.spark.sql.execution.SortExec => s }
    }
    assert(probeSorts.isEmpty,
      s"corpus probe side sorts before binning:\n$p")
  }

  test("map ops: one scan, bounded exchanges, no join — maps never shuffle the corpus") {
    val p = executed(SparkEntry.queries("x_map_ops")(spark, d))
    assert(scans(p).size == 1, s"expected one events scan:\n$p")
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"map ops plan contains a join:\n$p")
    val ex = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
    }.filterNot(_.toString.contains("rangepartitioning"))
    assert(ex.size <= 2,
      s"expected ≤2 hash exchanges (pre-agg regroup + map build):\n$p")
  }

  test("array ops: pure projection — no shuffle, no join, one scan") {
    val p = executed(SparkEntry.queries("x_array_ops")(spark, d))
    assert(scans(p).size == 1, s"expected one documents scan:\n$p")
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"array ops plan contains a join:\n$p")
    // the only legal exchange is the final ORDER BY's range partitioning
    val ex = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
    }.filterNot(_.toString.contains("rangepartitioning"))
    assert(ex.isEmpty,
      s"array ops shuffles beyond the output sort:\n$p")
  }

  test("unpivot lowers to Expand: per-row expansion, no join anywhere") {
    val p = executed(SparkEntry.queries("x_unpivot")(spark, d))
    val expands = collectWithSubqueries(p) {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.nonEmpty, s"expected ExpandExec for unpivot in:\n$p")
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"unpivot plan contains a join:\n$p")
  }

  test("media phash near-dup is band-blocked: equi-join only, no all-pairs product") {
    val p = executed(SparkEntry.queries("mm_phash_neardup")(spark, d))
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nested.isEmpty, s"phash candidate join is not an equi-join:\n$p")
  }

  test("runtime bloom filter: selective dim filter prunes the fact scan at runtime") {
    // Catalyst's InjectRuntimeFilter builds a bloom filter from the
    // filtered (small) join side and pushes might_contain onto the fact
    // side — at 100 TB this is what turns a selective dim predicate into
    // fact-scan pruning when broadcast isn't possible. Pin that the
    // engine's join shapes keep qualifying for it.
    Session.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      import spark.implicits._
      val li = Tbl.lineitem(spark, d)
      val ord = Tbl.orders(spark, d).where($"o_orderpriority" === "1-URGENT")
      val plan = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
             s"runtime filter not injected:\n$plan")
    }
  }

  test("semantic dedup is cell-blocked: equi-join only, no all-pairs product") {
    // SemDeDup's pair generation must stay an equi-join on the quantizer
    // cell — a nested-loop fallback here is the n² scan the clustering
    // exists to avoid. The ONE permitted nested-loop shape is the 1-row
    // broadcast pilot relation (pmat attach — constant fan-out, the
    // broadcast-codebook idiom; the member-submatrix side is an equi
    // HASH join on pidx, never nested-loop), recognized by the pmat
    // attribute the codebook side outputs (since round 10 the codebook
    // is a COMPUTED relation, not a driver-built LocalTableScan);
    // corpus-vs-corpus joins never carry pmat.
    val p = executed(SparkEntry.queries("sim_semantic_dedup")(spark, d))
    def isCodebookAttach(j: org.apache.spark.sql.execution.SparkPlan): Boolean =
      collectWithSubqueries(j) {
        case n if n.output.exists(_.name == "pmat") => n
      }.nonEmpty
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec
        if !isCodebookAttach(j) => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
        if j.joinType != org.apache.spark.sql.catalyst.plans.LeftOuter &&
           !isCodebookAttach(j) => j
    }
    assert(nested.isEmpty, s"semantic-dedup pair join is not an equi-join:\n$p")
  }

  test("semantic-dedup codebook is distributed: no driver-materialized relation") {
    // the trained codebook (k rows, k ∝ n/128) must enter the plan as a
    // COMPUTED relation — a LocalTableScan outputting pmat/mmat/mcids
    // means someone collected the codebook to the driver again (the
    // round-9 shape: a multi-GB collect + ~10¹⁰ single-threaded FLOPs
    // at the 16·2²⁰ k cap)
    val p = executed(SparkEntry.queries("sim_semantic_dedup")(spark, d))
    val driverBuilt = collectWithSubqueries(p) {
      case l: org.apache.spark.sql.execution.LocalTableScanExec
        if l.output.exists(a => Set("pmat", "mmat", "mcids")(a.name)) => l
    }
    assert(driverBuilt.isEmpty,
      s"codebook was collected to the driver and re-shipped:\n$p")
  }

  test("KMV sketch: k-smallest runs as TakeOrdered, never a full global sort") {
    // the sketch's claim to 100 TB is that the k-minimum selection is a
    // per-partition bounded heap merged once (TakeOrderedAndProject) —
    // a Sort + GlobalLimit over the distinct-hash relation would
    // materialize and sort the whole vocabulary instead
    val p = executed(SparkEntry.queries("x_kmv_distinct")(spark, d))
    val takeOrdered = collectWithSubqueries(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty, s"no TakeOrderedAndProject in:\n$p")
    val globalSorts = collectWithSubqueries(p) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"global sort in the sketch plan:\n$p")
  }

  test("bloom join: the bitset probe filters the fact side BEFORE the key join") {
    // the probe must be a scan-side reduction: a Filter whose predicate
    // is the element_at bitset test, with nothing but the 1-row bitset
    // attach (BroadcastNestedLoop over a constant relation) between it
    // and the orders scan — a probe sitting ABOVE the custkey join
    // would shuffle every fact row first and reduce nothing
    // the optimizer folds the where() into the 1-row bitset attach's
    // join condition (BroadcastNestedLoopJoin with the element_at
    // predicate) — accept either embodiment, but wherever the probe
    // lives, its subtree must hold only the orders scan + bitset build
    val p = executed(SparkEntry.queries("x_bloom_join")(spark, d))
    val probes = collectWithSubqueries(p) {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("element_at") => f: org.apache.spark.sql.execution.SparkPlan
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
        if j.condition.exists(_.toString.contains("element_at")) => j
    }
    assert(probes.nonEmpty, s"no bitset probe in:\n$p")
    val scanSide = probes.filter { f =>
      f.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if !j.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] => j
      }.isEmpty
    }
    assert(scanSide.nonEmpty,
      s"bitset probe sits above the key join (no scan-side copy):\n$p")
  }

  test("range search: corpus scans once, only the output sort shuffles") {
    val p = executed(SparkEntry.queries("sim_range_search")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1,
           s"range search shuffles beyond the output sort:\n$p")
  }

  test("OOV rate: the vocabulary broadcasts back, token stream never shuffles for it") {
    val p = executed(SparkEntry.queries("tx_oov_rate")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected broadcast vocab join in:\n$p")
    val streamedShuffles = bhj.flatMap { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case _                                                  => j.right
      }
      collect(streamed) { case e: ShuffleExchangeLike => e }
    }
    assert(streamedShuffles.isEmpty,
           s"token stream shuffles before the vocab join:\n$p")
  }

  test("EWMA: sixteen lag terms share one window exchange") {
    // all 32 window expressions ride the same (partition, order) spec —
    // a second Exchange would mean the spec was accidentally forked
    val p = executed(SparkEntry.queries("a7_ewma_decay")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2,
           s"EWMA shuffles beyond window partition + output sort:\n$p")
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // the 100 TB story leans on AQE re-planning (skew splits, partition
    // coalescing); pin that the engine's queries actually run under an
    // adaptive plan and that a tiny shuffle collapses below the static
    // partition count instead of scheduling empty reducers
    import spark.implicits._
    Session.withConf(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "64") {
      import org.apache.spark.sql.functions.{count, lit}
      val df = Tbl.events(spark, d)
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      df.collect() // materialize so AQE finalizes the plan
      val p = df.queryExecution.executedPlan
      val reads = collectWithSubqueries(p) {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      assert(reads.nonEmpty, s"no adaptive shuffle read in:\n$p")
      assert(reads.forall(_.partitionSpecs.size < 64),
             s"AQE did not coalesce below the static 64:\n$p")
    }
  }

  test("AQE OptimizeSkewedJoin splits a skewed sort-merge join at runtime") {
    // the engine's runtime answer to skew (the salted rewrite is the
    // static one): a deliberately skewed fact side must make AQE mark
    // the join skewed and split the hot partition — pinned so the
    // skew-handling posture is a tested property, not a hope. Thresholds
    // are scaled down to test-data volume; the RATIOS mirror production
    // defaults (factor 5 over median, split to advisory size).
    import spark.implicits._
    Session.withConf(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 100k fact rows, 90% on key 1; dim = 100 distinct keys
      val fact = spark.range(100000L)
        .select(org.apache.spark.sql.functions.when($"id" % 10 =!= 0, 1L)
                  .otherwise($"id" % 100).as("k"), $"id".as("payload"))
      val dim = spark.range(100L).select($"id".as("k2"))
      val df = fact.join(dim, $"k" === $"k2")
      df.collect() // materialize THIS plan so AQE finalizes it
      val p = df.queryExecution.executedPlan
      val smj = collectWithSubqueries(p) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n$p")
      assert(smj.exists(_.isSkewJoin),
             s"AQE did not mark the skewed join for splitting:\n$p")
      // the hot key's partition was actually split into multiple reads
      val reads = collectWithSubqueries(p) {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      assert(reads.exists(_.partitionSpecs.exists {
        case _: org.apache.spark.sql.execution.PartialReducerPartitionSpec => true
        case _ => false
      }), s"no partial-reducer (skew-split) partitions in:\n$p")
    }
  }

  test("REBALANCE splits a skewed writer partition that repartition(key) cannot") {
    // x_rebalance_write's claim: under key skew, repartition(key) pins
    // the hot key to ONE writer task while REBALANCE lets AQE split it
    // (OptimizeSkewInRebalancePartitions) — pinned here on a 95%-hot
    // fixture with thresholds scaled to test volume
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit, spark_partition_id, when}
    Session.withConf(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.rebalancePartitionsSmallPartitionFactor" -> "0.2") {
      // payload is an incompressible 32-char digest so the shuffled
      // bytes actually exceed the advisory size (a 3-char key alone
      // compresses under it and AQE would rightly coalesce to one)
      spark.range(200000L)
        .select(when($"id" % 20 =!= 0, lit("hot"))
                  .otherwise(concat(lit("t"), ($"id" % 10).cast("string"))).as("k"),
                org.apache.spark.sql.functions.md5($"id".cast("string")).as("payload"))
        .createOrReplaceTempView("rb_skew")
      val df = spark.sql("SELECT /*+ REBALANCE(k) */ * FROM rb_skew")
      df.collect() // materialize THIS plan so AQE finalizes it
      val p = df.queryExecution.executedPlan
      // second run of the same rebalance, tagged with the partition id
      // each row landed in (same conf → same AQE shaping)
      // max(payload) keeps the fat column live through the exchange
      // (count(payload) would optimize to count(1) and prune it, the
      // shuffle would shrink under the advisory size, and AQE would
      // rightly coalesce everything to one partition)
      val counts = spark.sql("SELECT /*+ REBALANCE(k) */ * FROM rb_skew")
        .select(spark_partition_id().as("p"), $"payload")
        .groupBy($"p")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
             org.apache.spark.sql.functions.max($"payload").as("mx"))
        .collect().map(_.getLong(1))
      val reads = collectWithSubqueries(p) {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      assert(reads.nonEmpty, s"REBALANCE produced no adaptive read:\n$p")
      assert(reads.exists(_.partitionSpecs.exists {
        case _: org.apache.spark.sql.execution.PartialReducerPartitionSpec => true
        case _ => false
      }), s"hot writer partition was not skew-split:\n$p")
      // 190k rows sit on the hot key; a hash-by-key layout gives one
      // ~190k partition — the rebalanced layout must break it up
      assert(counts.max < 95000,
             s"hot partition not split: sizes=${counts.sorted.reverse.take(5).mkString(",")}")
    }
  }

  test("runtime bloom filter: might_contain injected on the fact scan side") {
    import graft.operators.ScaleOps
    ScaleOps.withRuntimeFilterConf(spark) {
      ScaleOps.runtimeFilterJoin(spark, d)
    } { df =>
      val p = executed(df)
      val txt = p.toString
      assert(txt.contains("might_contain"),
             s"no runtime bloom filter injected:\n$txt")
      assert(txt.contains("bloom_filter_agg") || txt.contains("BloomFilterAggregate") ||
             txt.contains("ObjectHashAggregate"),
             s"no bloom build subquery in plan:\n$txt")
    }
  }

  test("auto-salt decision follows the measured skew profile") {
    import graft.operators.ScaleOps
    import spark.implicits._
    // skewed fact: 90% of rows on one key → profile over threshold →
    // salted. 20k rows so the probe's deterministic 1-in-64 sample
    // (~312 rows) carries the hot key with real support — the sampled
    // probe is DESIGNED to ignore skew it can't see at ≥8-row support
    val skewedFact = spark.range(20000L)
      .select(org.apache.spark.sql.functions.when($"id" % 10 =!= 0, 1L)
                .otherwise($"id" % 50).as("k"), $"id".as("payload"))
    val dim = spark.range(50L).select($"id".as("k2"),
      ($"id" % 3).as("grp"))
    val (saltedJoin, choseSalt) =
      ScaleOps.autoSaltedJoin(skewedFact, dim, "k", "k2")
    assert(choseSalt, "90%-hot-key fact must trip the salt threshold")
    // the salted plan joins on the composite (key, salt): hot key spread
    assert(saltedJoin.queryExecution.optimizedPlan.toString.contains("_salt"),
           "salted path must join on the synthetic salt column")
    // uniform fact: profile under threshold → plain join, no salt column
    val uniformFact = spark.range(20000L)
      .select(($"id" % 50).as("k"), $"id".as("payload"))
    val (plainJoin, choseSalt2) =
      ScaleOps.autoSaltedJoin(uniformFact, dim, "k", "k2")
    assert(!choseSalt2, "uniform keys must NOT pay the salted dim explosion")
    assert(!plainJoin.queryExecution.optimizedPlan.toString.contains("_salt"))
    // both paths produce the identical join result
    val a = saltedJoin.groupBy($"grp").count().orderBy($"grp")
      .collect().map(_.toSeq).toSeq
    val b = skewedFact.join(dim, $"k" === $"k2").groupBy($"grp").count()
      .orderBy($"grp").collect().map(_.toSeq).toSeq
    assert(a === b, "salted join must equal the plain join row-for-row")
  }

  test("sampled skew probe: 1-in-64 deterministic sample, min-support fails toward plain") {
    import graft.operators.ScaleOps
    import spark.implicits._
    // the probe agrees with the full-scan measurement on both fixtures
    val skewedFact = spark.range(20000L)
      .select(org.apache.spark.sql.functions.when($"id" % 10 =!= 0, 1L)
                .otherwise($"id" % 50).as("k"), $"id".as("payload"))
    val uniformFact = spark.range(20000L)
      .select(($"id" % 50).as("k"), $"id".as("payload"))
    assert(ScaleOps.skewX1000Sampled(skewedFact, "k") >=
             ScaleOps.SaltThresholdX1000,
           "sampled probe must still see the 90%-hot key")
    assert(ScaleOps.skewX1000Sampled(uniformFact, "k") <
             ScaleOps.SaltThresholdX1000,
           "sampled probe must not invent skew on uniform keys")
    // determinism: same sample, same number, every run
    assert(ScaleOps.skewX1000Sampled(skewedFact, "k") ===
             ScaleOps.skewX1000Sampled(skewedFact, "k"))
    // min-support: a fact too small to evidence skew in the sample
    // (hot key < 8 sampled rows) reads as no-skew — the probe fails
    // toward the cheap plain join, never toward the salted explosion
    val tiny = spark.range(200L).select(
      org.apache.spark.sql.functions.lit(1L).as("k"), $"id".as("payload"))
    assert(ScaleOps.skewX1000Sampled(tiny, "k") === 1000L)
    // the probe's plan filters BEFORE aggregating: the groupBy input is
    // the sampled subset, not the full fact (the whole point — at 100 TB
    // the old full-scan probe was a second complete pass)
    val probeIn = skewedFact.where(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"k", $"payload"),
        org.apache.spark.sql.functions.lit(ScaleOps.ProbeSampleMod)) === 0L)
    val frac = probeIn.count().toDouble / 20000L
    assert(frac > 0.005 && frac < 0.05,
           s"sample fraction $frac should be ~1/64")
  }

  /** `p`'s stock rank-limit nodes, after asserting that `p` holds no
    * native `TopKPerKeyExec`: `row_number() <= K` has one physical plan,
    * Spark's sort-based group limit. */
  private def groupLimits(p: SparkPlan): Seq[WindowGroupLimitExec] = {
    assert(collectWithSubqueries(p) { case e: TopKPerKeyExec => e }.isEmpty,
           s"row_number() <= K planned the native heap:\n$p")
    collectWithSubqueries(p) { case w: WindowGroupLimitExec => w }
  }
  private def modes(p: SparkPlan): Seq[String] =
    groupLimits(p).map(_.mode.toString).sorted

  test("SQL row_number() <= K plans the stock group-limit pair") {
    // the SQL-string surface over a temp view: Catalyst infers the group
    // limit, and Spark plans it Partial before the exchange, Final after
    org.apache.spark.sql.graft.GraftExtensions.install(spark)
    Tbl.events(spark, d).createOrReplaceTempView("rank_rw_events")
    try {
      val df = spark.sql(
        """SELECT user_id, event_id, rn FROM (
          |  SELECT user_id, event_id,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM rank_rw_events) WHERE rn <= 3""".stripMargin)
      val p = executed(df)
      assert(modes(p) == Seq("Final", "Partial"), s"expected Partial + Final group limit:\n$p")
    } finally spark.catalog.dropTempView("rank_rw_events")
  }

  test("a3's window idiom plans the stock group-limit pair") {
    // a3 is written as row_number().over(window).where(rn <= 3), with the
    // extensions installed: the idiom stays on Spark's spillable
    // sort-based limit, one Partial instance and one Final
    val p = executed(SparkEntry.queries("a3_top3_per_key")(spark, d))
    assert(modes(p) == Seq("Final", "Partial"), s"expected Partial + Final group limit:\n$p")
  }

  test("dynamic-gap session window: one user_id exchange feeds the session merge") {
    // per-event gaps ride the scan as a projected column; the only
    // exchange below the session aggregation clusters by user — the same
    // single-shuffle shape as fixed-gap sessionize, so 100 TB of events
    // shuffle once regardless of gap policy
    val p = executed(SparkEntry.queries("x_dynamic_session")(spark, d))
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    // allow the output-ordering sort exchange; the merge itself gets one
    assert(shuffles.size <= 2, s"dynamic session re-shuffles:\n$p")
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"dynamic session must not join:\n$p")
  }

  test("BPE apply is map-only until the doc agg: no join, no text in any exchange") {
    // the trained merge table rides into the scan as string literals, so
    // tokenization must stay a per-row projection; only (doc_id, longs)
    // may reach an exchange — at 100 TB the corpus text never shuffles
    val p = executed(SparkEntry.queries("tx_bpe_apply")(spark, d))
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"tokenizer application must not join:\n$p")
    val stringShuffles = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike
          if e.child.output.exists(_.dataType ==
            org.apache.spark.sql.types.StringType) => e
    }
    assert(stringShuffles.isEmpty, s"text reached an exchange:\n$p")
  }

  test("ANN recall queries stay broadcast-shaped: corpus side never shuffles for a join") {
    // recall = brute ∩ ann, both built on broadcast query sets; the only
    // exchanges allowed are the per-query window/agg on |Q|-sized data
    val p = executed(SparkEntry.queries("sim_recall_ivf")(spark, d))
    val shuffledJoins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.ShuffledJoin => j
    }
    assert(shuffledJoins.isEmpty,
           s"recall must join broadcast-side only:\n$p")
  }

  test("an extensions session plans the same group limit as install") {
    // extensions-built sessions (thrift server, notebooks) never call
    // install; this pin builds a genuine extensions session (no
    // imperative registration anywhere) and asserts that the rank-limit
    // idiom plans the same stock pair there as in an installed session
    import org.apache.spark.sql.SparkSession
    def limits(s: SparkSession): Seq[String] = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val df = Tbl.events(s, d)
        .withColumn("rn", row_number().over(w)).where($"rn" <= 3)
        .select($"user_id", $"event_id", $"rn")
      groupLimits(executed(df)).map(_.simpleString(100).replaceAll("#\\d+", "#N")).sorted
    }
    val installed = spark.newSession()
    org.apache.spark.sql.graft.GraftExtensions.install(installed)
    val viaInstall = limits(installed)
    assert(viaInstall.size == 2 && viaInstall.exists(_.contains("Partial")) &&
           viaInstall.exists(_.contains("Final")), viaInstall.mkString("\n"))
    SparkSpec.withExtensionsSession { ext =>
      assert(ext ne spark, "extensions test must not reuse the shared session")
      assert(ext.experimental.extraStrategies.isEmpty,
             "session must rely on the extensions conf alone")
      assert(limits(ext) == viaInstall)
      // and every native function arrived through injectFunction, not
      // install
      nativeFunctionNames.foreach { name =>
        assert(ext.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"$name did not resolve in the extensions session")
      }
    }
  }

  private val nativeFunctionNames = Seq(
    "dot_f", "dot_i", "avro_envelope", "from_avro_envelope",
    "proto_envelope", "from_proto_envelope")

  test("every native function resolves after imperative registration") {
    // a fresh session state: the shared session's registry may already
    // hold names other specs registered
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    def resolves(name: String) = reg.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    assert(nativeFunctionNames.forall(!resolves(_)),
           "fresh session already holds a native function")
    org.apache.spark.sql.graft.GraftExtensions.install(fresh)
    nativeFunctionNames.foreach { name =>
      assert(resolves(name), s"$name did not resolve after install")
    }
  }

  test("set ops lower to semi join + fused filter, no physical set operator") {
    // Intersect lowers to a distinct left-SEMI join; Except on two
    // filters of the SAME source does even better — Catalyst's
    // ReplaceExceptWithFilter folds it into `p1 AND NOT p2` on one
    // scan, so the anti join disappears entirely. Pin both: exactly
    // one join in the whole plan (the semi), and it is LeftSemi.
    val p = executed(SparkEntry.queries("x_setops_cohort")(spark, d))
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.map(_.joinType.toString) == Seq("LeftSemi"),
           s"expected exactly one LeftSemi join (Except should fuse " +
           s"into a filter, Intersect into a semi join):\n$p")
  }

  test("multiset set ops lower to ReplicateRows generates, zero joins") {
    // INTERSECT ALL / EXCEPT ALL must take the RewriteIntersectAll /
    // RewriteExceptAll path: one grouped aggregate over the tagged
    // union, multiplicities re-inflated by Generate(ReplicateRows) —
    // no join anywhere (a join-based multiset difference would shuffle
    // the fact per set op; the rewrite shuffles |keys| rows once).
    val p = executed(SparkEntry.queries("x_setops_all")(spark, d))
    val gens = collectWithSubqueries(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.size == 2,
           s"expected one ReplicateRows generate per set op:\n$p")
    assert(gens.forall(_.generator.isInstanceOf[
             org.apache.spark.sql.catalyst.expressions.ReplicateRows]),
           s"generator is not ReplicateRows:\n$p")
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
           s"multiset rewrite must be join-free:\n$p")
  }

  test("recursive CTE runs through UnionLoop, not a hand-unrolled union") {
    // WITH RECURSIVE must reach Spark 4.1's native fixpoint executor —
    // the engine owns the loop and terminates on an empty step. If the
    // analyzer ever falls back to inlining (no UnionLoopExec), the
    // query silently becomes a depth-limited approximation.
    val p = executed(
      SparkEntry.queries("x_recursive_hierarchy")(spark, d))
    val loops = collectWithSubqueries(p) {
      case l: org.apache.spark.sql.execution.UnionLoopExec => l
    }
    assert(loops.size == 1, s"expected one UnionLoopExec:\n$p")
  }

  test("skyline: the ordered window runs over the day grain, not the fact") {
    // the single-partition suffix-max window is safe ONLY because its
    // input is the per-day aggregate (bounded domain); a refactor that
    // windows the raw orders relation would serialize the whole fact
    // table through one task at 100 TB
    val p = executed(SparkEntry.queries("x_skyline")(spark, d))
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1, s"expected exactly one Window:\n$p")
    val aggBelow = collect(wins.head) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggBelow.nonEmpty,
           s"window input is not the day-grain aggregate:\n$p")
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"day frontier must broadcast back to the fact:\n$p")
  }

  test("triangle count: every join is an equi-join — no nested-loop, no cartesian") {
    val p = executed(SparkEntry.queries("x_triangle_count")(spark, d))
    val bad = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"triangle enumeration fell off the hash-join path:\n$p")
  }

  test("prefix join: verify is fused into the candidate join — one pair join, no re-attach tier") {
    // the prep joins (df + gram-array attach) live inside the persisted
    // prefix relation, so the executed plan shows exactly ONE join: the
    // gram self-join, with the exact-intersection verify pushed into
    // its CONDITION (array_intersect evaluated at the collision site).
    // A second visible join would mean the verify left the collision
    // site and re-attached per-PAIR payloads — the exchange shape the
    // fused near-dup path exists to prevent.
    val p = executed(SparkEntry.queries("dd_prefix_join")(spark, d))
    val joins = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1, s"expected exactly 1 visible join, got ${joins.size}:\n$p")
    assert(joins.head.condition.exists(_.toString.contains("array_intersect")),
           s"exact-set verify is not fused into the join condition:\n$p")
    val bad = joins.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"prefix join fell off the hash-join path:\n$p")
  }

  test("assoc rules: basket pairing is a user-keyed equi-join; the only NL join is the 1-row total attach") {
    // the pair generation must join baskets on user_id (hash/SMJ), never
    // all-pairs; the single BNLJ allowed is the broadcast of the ONE-ROW
    // n_users aggregate (constant-size by construction)
    val p = executed(SparkEntry.queries("x_assoc_rules")(spark, d))
    val cart = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, s"assoc rules planned a cartesian product:\n$p")
    val nl = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nl.size <= 1, s"unexpected nested-loop joins:\n$p")
    nl.foreach { j =>
      val oneRow = Seq(j.left, j.right).exists(
        _.output.exists(_.name == "n_users"))
      assert(oneRow, s"NL join is not the 1-row n_users attach:\n$j")
    }
  }

  test("iterative graph ops (pagerank, BFS, LPA) stay on equi-joins every round") {
    // each relaxation/propagation round joins the edge relation with a
    // |V|-row state relation on a long key — any cartesian/NL shape in
    // ANY unrolled round is the O(V·E) plan the key-join exists to avoid
    for (q <- Seq("x_pagerank", "x_shortest_path", "x_label_propagation")) {
      val p = executed(SparkEntry.queries(q)(spark, d))
      val nested = collectWithSubqueries(p) {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(nested.isEmpty, s"$q round joined without a key:\n$p")
    }
  }

  test("correlated subqueries decorrelate to equi-joins — no per-row subquery, no NL join") {
    // two correlated scalars + a NOT EXISTS must become aggregate-then-
    // join (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery);
    // any cartesian/NL shape means decorrelation produced a non-equi join
    val p = executed(SparkEntry.queries("x_correlated_subquery")(spark, d))
    val nested = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nested.isEmpty, s"decorrelation fell off the equi-join path:\n$p")
    val joins = collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.size >= 2,
           s"expected the rewritten scalar + anti joins, got ${joins.size}:\n$p")
  }

  test("anomaly mad: per-type stats re-attach by broadcast, corpus never wide-shuffles") {
    // both the median and MAD relations are |event types| rows — they
    // must come back as broadcast hash joins, leaving the corpus scan
    // unshuffled (the groupBy agg exchanges only |types|-sized partials)
    val p = executed(SparkEntry.queries("x_anomaly_mad")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"expected 2 broadcast re-attaches:\n$p")
    val smj = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, s"stats re-attach fell off the broadcast path:\n$p")
  }

  test("geofence join: cell-blocked broadcast EQUI-join, no nested loop") {
    // fences are data, so the naive plan is a bbox theta-join (NL);
    // the cell blocking must turn it into a hash equi-join on (jx, jy)
    // with the fence-cell side broadcast — the point side never
    // shuffles before the 16-row agg
    val p = executed(SparkEntry.queries("j10_geofence_join")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected BroadcastHashJoin on cells:\n$p")
    val nl = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(nl.isEmpty, s"geofence join fell off the equi-join path:\n$p")
  }

  test("dynamic partition pruning: fact scan carries a runtime DPP filter") {
    // the dim filter (n_regionkey = 2) is on a NON-join column, so only
    // a runtime subquery can know which fact partitions survive — the
    // PartitionPruning rule must plant a DynamicPruningExpression on
    // the fact scan's partition filters (reusing the join's broadcast),
    // and the scan must actually read 5/50 partitions
    val p = executed(SparkEntry.queries("x_dynamic_pruning")(spark, d))
    val dppScans = scans(p).filter(_.partitionFilters.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression => true
      case _ => false
    }))
    assert(dppScans.nonEmpty, s"no DynamicPruningExpression on any scan:\n$p")
    // post-execution the scan's selected partitions are materialized —
    // 5 surviving days out of 50 written
    val selected = dppScans.head.metrics.get("numPartitions").map(_.value)
    assert(selected.exists(n => n > 0 && n <= 5),
           s"DPP did not prune at read time: selected=$selected\n$p")
  }

  test("bitmap distinct: two codegen'd hash aggs, no distinct expansion") {
    val df = SparkEntry.queries("x_bitmap_distinct")(spark, d)
    val p = executed(df)
    // a count(DISTINCT) rewrite would surface as Expand or a 4-phase
    // agg keyed on the raw uid; the bitmap form must stay two plain
    // HashAggregates inside whole-stage codegen
    assert(!p.toString.toLowerCase.contains("expand"),
           s"bitmap distinct planned a distinct expansion:\n$p")
    val aggs = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.nonEmpty && aggs.forall(_.supportCodegen),
           s"bitmap aggs fell out of codegen:\n$p")
    // differential: bitmap count == Spark's own exact countDistinct
    import spark.implicits._
    val got = df.select($"event_type", $"n_users").as[(String, Long)]
      .collect().toMap
    val want = Tbl.events(spark, d).groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.countDistinct($"user_id").as("nd"))
      .as[(String, Long)].collect().toMap
    assert(got === want)
  }

  test("lateral top-k: decorrelated to window + equi-join, no nested loop") {
    // the naive execution of a LATERAL LIMIT subquery is one inner
    // query per outer row; DecorrelateInnerQuery must plan a single
    // row_number window + hash equi-join instead
    val p = executed(SparkEntry.queries("x_lateral_topk")(spark, d))
    val nl = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(nl.isEmpty, s"lateral subquery fell off the equi-join path:\n$p")
    val win = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(win.nonEmpty, s"expected a decorrelated window:\n$p")
  }

  test("nearest as-of: both frames in ONE WindowExec, one exchange, one sort") {
    // the backward last() and forward first() share partitioning and
    // ordering — Spark must fuse them into a single window operator
    // over a single sort, or the O(n+m) claim silently doubles
    val p = executed(SparkEntry.queries("j12_asof_nearest")(spark, d))
    val wins = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // Spark stacks different frames as two Window operators — the cost
    // claim is about exchanges and sorts, so pin those: the stacked
    // windows must share ONE partition sort (a second sort between them
    // would betray a broken SortOrder match)
    assert(wins.size <= 2, s"unexpected window stack:\n$p")
    val shuffles = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    // one exchange for the window partitioning, one for the output sort
    assert(shuffles.size <= 2, s"extra exchanges in nearest as-of:\n$p")
    val sorts = collectWithSubqueries(p) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.size <= 2, s"extra sorts in nearest as-of:\n$p")
  }

  test("null-safe join: EqualNullSafe plans as a hash join key, not a filter") {
    val p = executed(SparkEntry.queries("j11_nullsafe_join")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected BroadcastHashJoin for <=>:\n$p")
    // the <=> must be IN the hash keys (coalesced/isnull-keyed), not a
    // residual condition after a wider join
    assert(bhj.head.condition.isEmpty,
           s"null-safe equality degraded to a post-join filter:\n$p")
    val nl = collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nl.isEmpty, s"null-safe join fell off the hash path:\n$p")
  }

  test("join hints steer the strategy: each hint produces its exec") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val p = executed(SparkEntry.queries("x_join_hints")(spark, d))
    assert(collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
           s"BROADCAST hint did not produce a BroadcastHashJoin:\n$p")
    // the 25-row dim auto-broadcasts; SHUFFLE_MERGE must OVERRIDE that
    assert(collectWithSubqueries(p) { case j: SortMergeJoinExec => j }.nonEmpty,
           s"SHUFFLE_MERGE hint failed to override auto-broadcast:\n$p")
    assert(collectWithSubqueries(p) { case j: ShuffledHashJoinExec => j }.nonEmpty,
           s"SHUFFLE_HASH hint did not produce a ShuffledHashJoin:\n$p")
  }

  test("offset pagination: bounded top-k carries the offset, no global sort") {
    val p = executed(SparkEntry.queries("x_offset_limit")(spark, d))
    val topk = collectWithSubqueries(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(topk.nonEmpty, s"expected TakeOrderedAndProject for LIMIT+OFFSET:\n$p")
    assert(topk.head.offset == 30, s"offset not planned into the operator:\n$p")
    val globalSorts = collectWithSubqueries(p) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"pagination degraded to a global sort:\n$p")
  }

  test("ohlc bars: one aggregate pass — no window, partials before the exchange") {
    val p = executed(SparkEntry.queries("x_ohlc_bars")(spark, d))
    val windows = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
           s"OHLC regressed to a window formulation (sorts every partition twice):\n$p")
    // min_by/max_by on a struct key plan as SortAggregate (struct
    // buffers aren't hash-aggregable) — acceptable: the sort is by the
    // SHORT group key with partial aggregation before the exchange.
    // What must not regress is partial-ness: the exchange carries
    // |bars| partial rows, not events.
    val partials = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
        if a.aggregateExpressions.exists(_.mode.toString == "Partial") => a
    }
    assert(partials.nonEmpty, s"OHLC lost map-side partial aggregation:\n$p")
  }

  test("markov transitions: exactly one scan — totals must not re-execute the window pass") {
    val p = executed(SparkEntry.queries("x_markov_transitions")(spark, d))
    assert(scans(p).size == 1,
           s"row totals re-executed the events scan as a second subtree:\n$p")
  }

  test("simhash: votes aggregate map-side — the exchange carries doc rows, not tokens") {
    val p = executed(SparkEntry.queries("dd_simhash")(spark, d))
    val aggs = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    // partial + final pair around one exchange: the explode is reduced
    // before it ships
    assert(aggs.size >= 2, s"simhash lost its partial aggregation:\n$p")
    val windows = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected window in simhash:\n$p")
  }

  test("global shuffle: ONE corpus exchange at ANY shard count; the aggregate reuses the window partitioning") {
    val p = executed(SparkEntry.queries("x_global_shuffle")(spark, d))
    val windows = collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, s"expected exactly the row_number window:\n$p")
    // below the window: exactly the hashpartitioning(shard) exchange —
    // this is the epoch's single corpus-sized shuffle. The shard count
    // itself arrives via a BROADCAST of the count(*) rollup, so it adds
    // no shuffle on the corpus path.
    // (the broadcast branch's count(*) rollup contributes a 1-row
    // SinglePartition exchange — corpus-sized exchanges are the
    // hash-partitioned ones)
    def isCorpus(e: ShuffleExchangeLike): Boolean =
      !e.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.SinglePartition.type]
    val under = collect(windows.head) { case e: ShuffleExchangeLike => e }
    assert(under.count(isCorpus) == 1,
      s"corpus must cross exactly one exchange:\n$p")
    // the groupBy(shard) must NOT re-shuffle: hashpartitioning(shard)
    // already satisfies it. Total shuffle exchanges = the corpus one +
    // two row-bounded ones (the 1-row count(*) rollup that computes the
    // corpus-proportional shard count, and the |shards|-row final
    // ordering) — anything more means the aggregate re-shuffled.
    val all = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(all.size == 3, s"aggregate re-shuffled the shard partitioning:\n$p")
    // and every documents scan is pruned to AT MOST the key column —
    // content never moves (the shard-count scan reads zero columns:
    // parquet row-group metadata only)
    assert(scans(p).forall(_.schema.fieldNames.toSet.subsetOf(Set("doc_id"))),
      s"scan reads more than doc_id:\n$p")
  }

  test("salted agg: phase-1 exchange partitions on (key, salt); phase-2 re-folds the grid") {
    val p = executed(SparkEntry.queries("x_salted_agg")(spark, d))
    val exs = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    // bottom-up: [final sort] [phase-2 on key] [phase-1 on (key,salt)]
    val parts = exs.map(_.outputPartitioning.toString)
    assert(exs.size == 3, s"expected phase-1 + phase-2 + sort exchanges:\n$p")
    val p1 = parts.find(s => s.contains("event_type") && s.contains("salt"))
    assert(p1.nonEmpty, s"phase-1 must partition on (event_type, salt): $parts\n$p")
    // the corpus-sized exchange is phase-1's, and it carries PARTIAL
    // aggregates (map-side combine) — only (key, salt) grid rows move
    val aggs = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 4, s"lost a partial/final aggregate pair:\n$p")
  }

  test("minmax scale: grid broadcasts back — the corpus never crosses an exchange") {
    val p = executed(SparkEntry.queries("x_minmax_scale")(spark, d))
    val bhj = collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected the |keys|-row grid to broadcast:\n$p")
    assert(collectWithSubqueries(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"corpus-side sort-merge join:\n$p")
    // every shuffle exchange sits ABOVE a partial aggregate (grid rows
    // or histogram partials) — raw event rows never move
    val exs = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }
    assert(exs.forall(e => collect(e.child) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty), s"an exchange moves un-aggregated corpus rows:\n$p")
  }

  test("array ops kernel: zero lambda HOF evaluators — one codegen'd kernel call") {
    val p = executed(SparkEntry.queries("x_array_ops_kernel")(spark, d))
    val ps = p.toString
    assert(ps.contains("token_array_stats"), s"kernel expression missing:\n$p")
    assert(!ps.contains("lambdafunction"),
      s"interpreted higher-order functions leaked into the kernel twin:\n$p")
  }

  test("generator ops: the fact table is scanned once, inside the checkpointed grid") {
    // both lineitem rollups derive from the eagerly-checkpointed
    // (returnflag × linestatus) grid — the returned plan may scan only
    // documents; a lineitem FileScan here means the 10.8 GB-at-sf100p
    // fact table is being re-read per rollup (the flaw this fixed)
    val p = executed(SparkEntry.queries("x_generator_ops")(spark, d))
    val files = scans(p).flatMap(_.relation.location.inputFiles)
    assert(files.nonEmpty && files.forall(_.contains("documents")),
      s"final plan re-scans the fact table:\n$p")
  }

  test("sql udf: bodies inline into codegen — zero ScalaUDF black boxes in the plan") {
    val p = executed(SparkEntry.queries("x_sql_udf")(spark, d))
    val ps = p.toString
    assert(!ps.contains("ScalaUDF"), s"SQL UDF fell back to a ScalaUDF:\n$p")
    // the inlined CASE aggregates with a map-side partial like any
    // native expression would
    val aggs = collectWithSubqueries(p) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 2, s"sql-udf aggregate lost its partial:\n$p")
    // the one events scan lives inside the checkpointed grid: the
    // returned plan (main SELECT + TVF) must never re-scan the fact
    assert(scans(p).isEmpty,
      s"final plan re-scans events instead of re-folding the grid:\n$p")
  }

  test("tablesample: Sample sits under the first exchange — 10% decided pre-shuffle") {
    val p = executed(SparkEntry.queries("x_tablesample")(spark, d))
    val samples = collectWithSubqueries(p) {
      case s: org.apache.spark.sql.execution.SampleExec => s
    }
    assert(samples.size >= 2, s"expected both TABLESAMPLE scans:\n$p")
    // every Sample node's subtree is exchange-free: the sampler runs on
    // the scan side of the shuffle, so the 90% it rejects never moves
    samples.foreach { s =>
      val below = collectWithSubqueries(s.child) {
        case e: ShuffleExchangeLike => e
      }
      assert(below.isEmpty, s"exchange under Sample — sampling post-shuffle:\n$p")
      assert(scans(s.child).nonEmpty, s"Sample not over the file scan:\n$p")
    }
  }
}
