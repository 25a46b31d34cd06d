package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Physical-plan audits (the 100 TB posture is in the plan, not the
  * output): filters reach the parquet scan, small sides broadcast,
  * global top-k never materializes a full sort, metadata-only reads
  * prune payload columns. Run at sf0.001 — plan shape, not timing. */
class PlanSpec extends SparkSpec {

  import RegistrySweep.{streamLoops, value}

  private val dir = small

  /** The sf0.001 sweep minus the stream loops, whose executed plan is
    * only the landed parquet read — plan-shape lints don't apply. */
  private def swept = RegistrySweep.atSmall.filterNot(e => streamLoops(e._1))

  /** An equi-join NODE keyed on `key` — a plan that merely mentions the
    * column elsewhere must not pass. */
  private def joinsOn(plan: String, key: String): Boolean =
    s"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\\n]*$key".r
      .findFirstIn(plan).isDefined

  private def planOf(name: String): String = {
    val df = QueryRegistry.byName(name).run(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters are pushed to the parquet scan") {
    val p = planOf("q02_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate") && p.contains("l_discount"), p)
  }

  test("q03: dimension join is a broadcast hash join") {
    val p = planOf("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q09: global top-k plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q09_top100_lineitems")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q04/q06: semi and anti joins plan as such") {
    assert(planOf("q04_order_priority").contains("LeftSemi"))
    assert(planOf("q06_customers_without_open_orders").contains("LeftAnti"))
  }

  test("metadata-only projection prunes unread columns at the scan") {
    val df = Tables(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"), scan)
    assert(!scan.contains("text"), s"payload column not pruned:\n$scan")
  }

  test("d04: no forced broadcast of the corpus side, no global-window vocab") {
    // at 100 TB the corpus token table is not broadcastable and a
    // partition-less window is a single-task sort — neither may appear
    // in the logical plan (a tiny-SF auto-broadcast chosen by stats is
    // fine; a hint forcing one is not)
    val df = QueryRegistry.byName("d04_ngram_jaccard").run(spark, dir)
    val logical = df.queryExecution.optimizedPlan
    assert(!logical.toString.toLowerCase.contains("broadcast"),
      s"forced broadcast in d04:\n$logical")
    val windows = logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, s"window in d04 vocab path:\n$logical")
  }

  test("q07/s01: rank-filter paths plan through the custom GroupTopK operator") {
    val q07 = planOf("q07_top_orders_per_customer")
    assert(q07.contains("GroupTopKPartial") && q07.contains("GroupTopKFinal"), q07)
    val s01 = planOf("s01_ann_bruteforce")
    assert(s01.contains("GroupTopKPartial") && s01.contains("GroupTopKFinal"), s01)
  }

  test("t07/s05/d06: per-group top-k paths plan through GroupTopK") {
    val t07 = planOf("t07_tfidf_keywords")
    assert(t07.contains("GroupTopKPartial") && t07.contains("GroupTopKFinal"), t07)
    val s05 = planOf("s05_ann_recall")
    assert(s05.contains("GroupTopKPartial"), s05)
    // d06 is written as the window-rank idiom — the optimizer rule, not
    // the explicit API, must produce the GroupTopK plan
    val d06 = planOf("d06_dedup_apply")
    assert(d06.contains("GroupTopKPartial"), d06)
  }

  test("round-9 additions: winnowing pairs key on the fingerprint " +
    "hash; bounded minimax joins broadcast; AA top-k never sorts " +
    "globally") {
    // d24: pair enumeration must be an equi-join NODE keyed on the
    // winnowed fingerprint hash (the 2/(w+1)-density table) — never a
    // cartesian of the corpus against itself (d08/d10's pin style)
    val d24 = planOf("d24_winnowing")
    assert(joinsOn(d24, "fph"), s"no equi-join node keyed on fph:\n$d24")
    assert(!d24.contains("CartesianProduct"), d24)
    // q87: the score-domain range joins are non-equi by nature — they
    // must plan as broadcast nested-loop against the bounded side
    // (staged tables carry no stats; without the explicit hint this
    // silently degrades to CartesianProduct, the bug the hints fix)
    val q87 = planOf("q87_isotonic_calibration")
    assert(q87.contains("BroadcastNestedLoopJoin"), q87)
    assert(!q87.contains("CartesianProduct"), q87)
    // q88: the top-100 must ride a per-partition heap + driver merge,
    // never a global sort of the pair table
    val q88 = planOf("q88_adamic_adar")
    assert(q88.contains("TakeOrderedAndProject"), q88)
    assert(!q88.contains("CartesianProduct"), q88)
  }

  test("round-10 additions: rank tests ride the range exchange; " +
    "capture-recapture keys on band joins; the ACF lag join stays " +
    "an equi-join") {
    // q94/q98: the rank pass itself sits behind EquiDepth's REQUIRED
    // stage (the checkpoint truncates the visible plan), and its
    // range-exchange shape is pinned at the operator level by the
    // q43 EquiDepth test above — here we pin that nothing downstream
    // of the staged ranks degrades to a cartesian
    Seq("q94_mann_whitney", "q98_kruskal_wallis").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
    }
    // d25: BOTH catchers must enumerate pairs via band-key equi-join
    // NODES (d02/d03's shapes) — never a corpus-vs-corpus cartesian;
    // the pair-set reconciliation is a FullOuter join on the pair key
    val d25 = planOf("d25_capture_recapture")
    assert(joinsOn(d25, "band_key"),
      s"d25: no equi-join keyed on the minhash band_key:\n$d25")
    assert(joinsOn(d25, "band#"),
      s"d25: no equi-join keyed on the simhash band:\n$d25")
    assert(d25.contains("FullOuter"), s"d25: pair reconciliation " +
      s"must be a full-outer join on the (a_id, b_id) key:\n$d25")
    assert(!d25.contains("CartesianProduct"), d25)
    // q97: the lag-k pairing must plan as an EQUI-join on the d−k
    // arithmetic key against the bounded day table — a theta-join
    // fallback would turn the 7-lag spine into a nested-loop scan
    val q97 = planOf("q97_acf")
    assert(
      """(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"""
        .r.findFirstIn(q97).isDefined,
      s"q97: lag pairing lost its equi-join node:\n$q97")
    assert(!q97.contains("CartesianProduct"), q97)
  }

  test("q30: lateral top-k decorrelates to ONE join with group-limit pruning") {
    // the correlated LATERAL subquery must become a single equi-join
    // feeding a rank filter — never a per-outer-row rescan of customer
    val p = planOf("q30_lateral_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    // map-side group-limit (built-in WindowGroupLimit or our GroupTopK)
    // bounds the shuffle to k rows per group per partition
    assert(p.contains("WindowGroupLimit") || p.contains("GroupTopKPartial"), p)
    assert(p.split("Scan parquet").length - 1 <= 2,
      s"lateral join re-scans a table:\n$p")
  }

  test("p08/p09: cleaning report and epoch shard are single-agg, join-free plans") {
    // both are the 100 TB projection→partial-agg shape: exactly one
    // shuffle (the final agg's), no join anywhere
    Seq("p08_quality_cascade", "p09_epoch_shard").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name plans a join:\n$p")
      val exchanges = p.split("Exchange").length - 1
      assert(exchanges <= 2, s"$name shuffles more than the final agg:\n$p")
      assert(p.contains("partial"), s"$name missing map-side partial agg:\n$p")
    }
  }

  test("t08: NFC fingerprint is a stateless whole-stage-codegen projection") {
    val df = QueryRegistry.byName("t08_nfc_normalize").run(spark, dir)
    // AQE only materializes codegen stages in the final plan — execute
    // this df's own QueryExecution (tiny sf0.001; a write would spawn a
    // fresh unexecuted QueryExecution) before asserting the span exists
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Aggregate"), p)
    // `*(n)` is simpleString's WholeStageCodegen marker — the nfc
    // projection must sit inside a codegen stage, not interpreted
    assert("""\*\(\d+\) Project""".r.findFirstIn(p).isDefined,
      s"nfc projection fell out of whole-stage codegen:\n$p")
  }

  test("p10: domain cap's window-rank plans through a group-limit, not a full sort") {
    // the per-source quality rank must bound the shuffle to k rows per
    // (source, partition) — WindowGroupLimit or the GroupTopK rewrite
    val p = planOf("p10_domain_cap")
    assert(p.contains("WindowGroupLimit") || p.contains("GroupTopKPartial"), p)
  }

  test("p11: bloom membership is chained broadcast semi-joins, no gram-key shuffle") {
    // the bitset side broadcasts (bounded at 16^4 slots however large
    // the eval corpus); the corpus grams must never hash-exchange on
    // the 13-gram string before the bloom filter prunes them
    val p = planOf("p11_bloom_decontaminate")
    val semis = "BroadcastHashJoin .*LeftSemi".r.findAllIn(p).length
    assert(semis == 3, s"expected 3 broadcast semi-joins, got $semis:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d08: semdedup pair join is an equi-join on the cluster key") {
    // in-cluster pair enumeration must key the join on pivot_id (cell-
    // bounded at 100 TB) — never a cartesian against the whole corpus
    val p = planOf("d08_semdedup")
    // pin the join NODE itself, keyed on pivot_id — a plan that merely
    // mentions the column elsewhere must not pass (mirrors p11/d09)
    assert(joinsOn(p, "pivot_id"), s"no equi-join node keyed on pivot_id:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d10: dup grams join back on the gram-hash key, spans window by doc") {
    // the dup-gram set scales with the duplication rate — the join back
    // must be an equi-join NODE keyed on gh (broadcast is fine when
    // stats allow; a cartesian or a non-gh key is not)
    val p = planOf("d10_repeated_spans")
    assert(joinsOn(p, """\bgh"""), s"no equi-join node keyed on gh:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s08: the IVF-PQ probe is an equi-join on the cell key") {
    // candidates must come from the probed cells only — a join keyed on
    // cell_id, never a nested loop over the whole coded corpus
    val p = planOf("s08_ann_ivfpq")
    assert(joinsOn(p, "cell_id"), s"no equi-join node keyed on cell_id:\n$p")
  }

  test("q37: pairs generate map-side — no join node, top-k never full-sorts") {
    // the oracle states items×items; the plan must NOT contain it —
    // baskets aggregate on the order key, pairs explode from the
    // basket array, and the top-100 is TakeOrderedAndProject
    val p = planOf("q37_copurchase")
    assert(!p.contains("Join"), s"pair generation joined:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k full-sorted:\n$p")
  }

  test("d14: the containment candidate join is keyed on the min-shingle") {
    // A's single probe key against B's inverted index — an equi-join
    // NODE keyed on msh; a cartesian against the corpus must fail
    val p = planOf("d14_containment")
    assert(joinsOn(p, """\bmsh"""), s"no equi-join node keyed on msh:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s11: multiprobe candidates come from a bucket equi-join") {
    // 7 probe buckets per query fan the SMALL side out; the corpus
    // side must still be reached via an equi-join on the bucket key
    val p = planOf("s11_ann_multiprobe")
    assert(joinsOn(p, "pbucket"), s"no equi-join node keyed on pbucket:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t10: the rule gate is one stateless pass — no join, no aggregate") {
    // seven rules over one projection; the only exchange allowed is the
    // presentation sort's range partitioning, and the scan must prune
    // to (doc_id, text)
    val p = planOf("t10_gopher_rules")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("ReadSchema") && !p.contains("lang:"), p)
  }

  test("p17: three pipeline stages fuse into ONE hash exchange") {
    // dedup window + rule gate + split coin — only the md5 dedup
    // window may shuffle; the gates are stateless projections fused
    // around it
    val p = planOf("p17_full_pipeline")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q33: both windows and the aggregate ride ONE user_id exchange") {
    // lag-flag window, cumulative-sum window, and the per-session
    // aggregate all partition by user_id — Spark must plan a single
    // hash exchange (plus the presentation sort's range exchange)
    val p = planOf("q33_sessionize")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("s09: the metadata predicate is an equi-join KEY, not a post-filter") {
    // the label restriction must reach the join condition — a
    // cartesian-with-filter would score n·q pairs instead of the
    // label-selective candidates
    val p = planOf("s09_ann_filtered")
    assert(joinsOn(p, "label"), s"no equi-join node keyed on label:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("GroupTopK"), p)
  }

  test("p14: one hash exchange on the canonical key; scan prunes to doc_id") {
    // parse + normalize are a stateless projection; the ONLY data
    // exchange is the group window's hashpartitioning on canon_url
    // (plus the presentation sort's range partitioning); the documents
    // scan must not read text
    val p = planOf("p14_url_canonicalize")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(canon_url".r.findAllIn(p).size == 1, p)
    assert(p.contains("ReadSchema") && !p.contains("text:"), p)
  }

  test("p13: eval-gram membership is an equi-join NODE keyed on the gram hash") {
    // the eval gram set is NOT assumed broadcastable (p11's bloom is the
    // broadcast variant): any equi strategy is fine, a cartesian or a
    // non-g key is not
    val p = planOf("p13_contamination_fraction")
    assert(joinsOn(p, """\[g#[^\n]*LeftSemi"""),
      s"no semi equi-join node keyed on g:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d09: the boilerplate set broadcasts back; corpus never sort-merges on seg") {
    // the heavy-hitter set (segments in >= 3 distinct docs) is tiny by
    // construction — it must come back over the corpus as a broadcast
    // join, never a corpus-wide sort-merge on the segment string
    val p = planOf("d09_line_dedup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d21: first-occurrence accounting is a min_by agg — no window over the chunk stream") {
    // the chunk stream is corpus-sized; a row_number window over it
    // would be the q43 shape the global lint exists for. Ownership
    // must reduce via the chunk-hash groupBy (partial agg), never rank.
    val p = planOf("d21_cdc_chunks")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d22: overlap candidates come from equi-joins; no all-pairs scan") {
    val p = planOf("d22_overlap_stitch")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q58: rolling distinct is agg passes + a broadcast max-date; no window") {
    val p = planOf("q58_rolling_distinct")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row max-date bound rides back as a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q59: sketch merge is partial aggs; no window, no cartesian blowup") {
    val p = planOf("q59_rolling_distinct_hll")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-day sketches union-merge in an aggregate (partial+final),
    // not a self-join of the day stream
    assert(p.contains("hll_union_agg") || p.contains("HllUnionAgg"), p)
  }

  test("p31: the bucket weight table broadcasts; top-50 never full-sorts") {
    val p = planOf("p31_dsir_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p07: the per-language threshold table broadcasts; the corpus never shuffles") {
    val p = planOf("p07_token_rebalance")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus side of the final join must not hash-exchange (only
    // the LANGUAGES-sized aggregates may)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q45: wedge and closing joins are equi-joins on graph keys") {
    // the two pair enumerations must key on src (wedges) and the
    // canonical (p1, p2) edge pair (closing test) — the naive form is
    // an all-pairs scan of the neighbor lists
    val p = planOf("q45_triangle_count")
    assert(joinsOn(p, """\bsrc"""), s"no wedge equi-join keyed on src:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q46: support tables broadcast onto the pair stream; top-50 never full-sorts") {
    val p = planOf("q46_basket_lift")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-k full-sorted:\n$p")
  }

  test("q47: the 768-counter sketch comes back as a broadcast join") {
    // the sketch is constant-size regardless of corpus — joining it
    // back must never shuffle the key table on the slot string
    val p = planOf("q47_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q48: both sweep windows and the final agg ride ONE event_type exchange") {
    // the running sum, the per-type max, and the peak aggregate all
    // partition by event_type — one hash exchange (the union's two
    // scan legs both feed it), like q33's single-exchange pin
    val p = planOf("q48_interval_concurrency")
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q49: the tiny skyline broadcasts back to fetch member parts") {
    val p = planOf("q49_skyline")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q50: the salted join keys on (partkey, salt) — the skew spread is in the plan") {
    // the whole point is the join KEY: a plan that joins on p_partkey
    // alone silently re-concentrates the hot key on one reducer
    val p = planOf("q50_salted_join")
    assert(joinsOn(p, "salt"), s"no equi-join node keyed on salt:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q51: NOT EXISTS decorrelates to ONE anti-join; the scalar subquery runs once") {
    // the correlated EXISTS must become a single anti-join (never a
    // per-outer-row rescan of orders), and the scalar mean must appear
    // as a subquery evaluated once — 4 scans total (customer twice:
    // outer + scalar mean; orders; nation), not scans × customers
    val p = planOf("q51_subquery_decorrelation")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the mean must appear as a once-evaluated scalar Subquery node
    assert(p.contains("Subquery subquery"), s"scalar subquery missing:\n$p")
    // 4 logical scans (customer ×2, orders, nation); the plan PRINTER
    // renders the scalar subquery's subplan under both the Filter and
    // the pushed-filter scan, so allow its one extra rendering
    assert(p.split("Scan parquet").length - 1 <= 6,
      s"subquery re-scans a table:\n$p")
  }

  test("p25: the padding report is a join-free literal-fold projection") {
    // the 2^0..2^20 bucket comes from an array-literal fold — no
    // powers-table join may appear; the only shuffle is the ≤21-key
    // final agg (plus the presentation sort)
    val p = planOf("p25_padding_waste")
    assert(!p.contains("Join"), s"p25 plans a join:\n$p")
    assert(p.split("Exchange").length - 1 <= 2, p)
    assert(p.contains("partial"), s"missing map-side partial agg:\n$p")
  }

  test("t15: join-free; histogram shuffles once on (doc_id, c), fold once on doc_id") {
    // the char explode partial-aggregates map-side onto (doc_id, c) —
    // alphabet-bounded per doc, so the first exchange carries the
    // HISTOGRAM, never raw chars; the total window and the entropy
    // fold then share the single doc_id exchange
    val p = planOf("t15_char_entropy")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(doc_id#\\d+L, c#".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning\\(doc_id#\\d+L, \\d".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), s"histogram not partial-agg'd:\n$p")
  }

  test("t17: the top-500 vocabulary broadcasts; the corpus never sorts globally") {
    val p = planOf("t17_vocab_coverage")
    // the vocab cut is a bounded top-k (TakeOrderedAndProject), never a
    // full Sort+Limit over the term totals
    assert(p.contains("TakeOrderedAndProject"), p)
    // the per-doc coverage join takes the vocab as the broadcast side
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q52: the moments reduce in ONE partial-agg'd shuffle") {
    val p = planOf("q52_regression_agg")
    // partial + final hash aggregate around a single exchange — the
    // five decimal moments ARE the mergeable sketch; a second shuffle
    // would mean the slope math left the reduced 3-row table
    assert(p.contains("HashAggregate"), p)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected ≤2 exchanges (agg + order), got $exchanges:\n$p")
  }

  test("t18: the per-source rank cut runs through GroupTopK") {
    val p = planOf("t18_zipf_slope")
    assert(p.contains("GroupTopK"), p)
  }

  test("mm10: dims parse in the scan projection; payload bytes are pruned") {
    val p = planOf("mm10_aspect_bucket")
    // only doc_id and text (the payload builder's inputs) leave the
    // scan; after the dims projection no binary column reaches an
    // exchange — the whole-row payload never shuffles
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
    assert(readSchema.exists(l => l.contains("doc_id") && l.contains("text")), p)
  }

  test("m20: both count legs answer from metadata (pushed aggregation)") {
    val p = planOf("m20_topic_count")
    val marks = "PushedAggregation=\\[COUNT\\(\\*\\)\\]".r
      .findAllIn(p).length
    assert(marks == 2, s"expected both scan legs pushed, got $marks:\n$p")
  }

  test("q43: equi-depth plans with NO unpartitioned WindowExec") {
    // the round-6 `weak`: ntile over an unpartitioned window moved ALL
    // of lineitem through one task. The rewrite must keep every window
    // partitioned (the rank window keys on pid; the prefix offsets are
    // an array fold, not a window at all)
    // logical Window nodes (AQE wraps the physical tree, hiding it
    // from collect); partitionSpec survives 1:1 into WindowExec
    val df = QueryRegistry.byName("q43_equidepth_histogram").run(spark, dir)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(wins.nonEmpty, "expected the pid-partitioned rank window")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned Window in q43:\n$w") }
    graft.operators.Stage.drain(spark)
  }

  test("global-window lint: no unpartitioned window over unreduced data, anywhere") {
    // the q43 lesson made structural: an unpartitioned Window is a
    // single-task sort of its ENTIRE child — fine over a table that is
    // provably small, a scale-killer over anything fact-sized. The
    // q43 shape compiled, passed its gate, and benched fine at sf0.1;
    // only a plan-shape gate catches the next one. Rule: every leaf
    // under an unpartitioned Window must sit below an explicit Limit or
    // be a literal table (row-bounded by construction), or the site
    // must be allowlisted with its data-contract row bound.
    // audited sites (round 7): each unpartitioned window here runs
    // over an aggregate whose GROUPING DOMAIN is bounded by data
    // contract, so the single task holds a dimension-sized table at
    // any corpus scale. An aggregate alone does NOT qualify — q38's
    // groupBy(o_custkey) still scaled with the corpus, which is why
    // it was rewritten onto EquiDepth instead of allowlisted.
    val allow: Map[String, String] = Map(
      "q36_price_histogram" -> "16 equi-width buckets by construction",
      "q49_skyline" -> ("distinct p_retailprice domain (price grid); " +
        "header documents the local-skyline+re-skyline form for when " +
        "even the price domain is huge"),
      "p24_unimax_mix" -> "per-source aggregate; sources are a bounded vocabulary",
      "p27_repeat_schedule" -> "per-source aggregate; sources are a bounded vocabulary")
    swept.filterNot(e => allow.contains(e._1)).foreach { case (name, f) =>
      val bad = value(name, f.windows)
      if (bad.nonEmpty)
        fail(s"$name: unpartitioned window over unreduced data " +
          s"(single-task sort of the whole child at scale):\n${bad.head}")
    }
    // an exemption is stale once its query is gone or no longer plans
    // the window it exempts
    val stale = allow.keys.filterNot(name =>
      swept.get(name).exists(f => value(name, f.windows).nonEmpty))
    assert(stale.isEmpty, "stale allow entries (unregistered, a stream " +
      s"loop, or no unpartitioned window left): ${stale.mkString(", ")}")
  }

  test("decimal-parity lint: every decimal multiply/divide is Spark-exact") {
    // the q52/q55 class made structural: when a decimal product needs
    // p1+p2+1 > 38 digits Spark SHRINKS the result scale with per-row
    // half-up rounding while DuckDB keeps exact int128 — an error that
    // accumulates ~sqrt(n) per group, so sf0.01 passes the oracle and
    // sf0.1+ drifts (found by hand twice; this lint would have caught
    // both before the advisor did). Rule: every Multiply/Divide whose
    // operands are both DecimalType must land inside 38 digits
    // (multiply: p1+p2+1; divide: p1-s1+s2+max(6, s1+p2+1), Spark's
    // own result-type formulas), or the site must be allowlisted with
    // a measured-safe rationale.
    val allow: Map[String, String] = Map.empty
    val bad = swept.filterNot(e => allow.contains(e._1)).toSeq
      .flatMap { case (n, f) => value(n, f.decimals).map(p => s"$n: $p") }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("broadcast lint: no forced-broadcast side scales with the corpus") {
    // a broadcast() hint is a 100 TB liability exactly when the hinted
    // side grows with the data — a model table, a bounded query set,
    // or a global/bounded-domain aggregate stays O(1)-ish while the
    // corpus 10×es. Structural proofs are brittle (an Aggregate's
    // output may or may not be bounded — the q38 lesson), so this lint
    // MEASURES: every ResolvedHint(broadcast) subtree is counted at
    // sf0.001 and at sf0.01 (10× the rows); a side whose cardinality
    // grows > 3× (above a 64-row noise floor) is data-scaling and
    // fails. It would catch a broadcast(vocabulary) or
    // broadcast(fact-aggregate) the moment it is written.
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    swept.foreach { case (name, f) =>
      val s = value(name, f.hintRows)
      val l = value(name, RegistrySweep.atLarge(name).hintRows)
      // hint sites are positional in the plan walk: same code path,
      // same order at both scales
      assert(s.length == l.length, s"$name: hint-count drift")
      s.zip(l).zipWithIndex.foreach { case ((ns, nl), i) =>
        if (nl > 3 * math.max(ns, 64L))
          bad += s"$name hint #$i: broadcast side grew $ns -> $nl " +
            "rows from sf0.001 to sf0.01 — it scales with the corpus " +
            "and cannot broadcast at 100 TB"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no CartesianProduct in any registered query plan") {
    // a broadcast nested-loop against a bounded side is fine (s01's
    // query set); an unbroadcast cartesian of two big sides never is.
    // Piggybacked on the same plan walk: output column names must be
    // DISTINCT — the driver's compare sorts columns BY NAME before
    // hashing, so a duplicate name silently scrambles the comparison.
    swept.foreach { case (name, f) =>
      val plan = value(name, f.plan)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      val names = value(name, f.schema).fieldNames
      assert(names.distinct.length == names.length,
        s"$name emits duplicate column names: ${names.mkString(",")}")
    }
  }

  test("registry contract: names, oracles, and the flagship entry") {
    // the driver's interface assumptions, pinned: every query has an
    // oracle (a missing one silently downgrades to a rows-only check),
    // names are lowercase identifiers, every oracle reads at least one
    // fixture table, and SparkEntry.entry answers with rows (the t1
    // smoke the driver runs before anything else)
    val tables = Seq("documents", "embeddings", "events", "orders",
      "lineitem", "customer", "supplier", "part", "nation", "region")
    graft.SparkEntry.queries.keySet.foreach { n =>
      assert(n.matches("[a-z][a-z0-9_]*"), s"bad query name: $n")
      val sql = graft.SparkEntry.oracleSql.get(n)
      assert(sql.isDefined, s"$n has no oracle — driver drops to rows-only")
      assert(tables.exists(sql.get.contains),
        s"$n's oracle references no fixture table")
    }
    assert(graft.SparkEntry.oracleSql.keySet ==
      graft.SparkEntry.queries.keySet, "oracle/query key sets diverge")
    assert(graft.SparkEntry.entry(spark).count() > 0, "flagship entry empty")
  }

  test("no registry query materializes rows on the driver (memory sink / collect)") {
    // the registry is the 100 TB surface: a `memory` sink or a
    // row-data collect() in a query body is a driver OOM at scale.
    // (Benign collects live outside queries/: AckingSink's 2-row
    // aggregate count and VectorOps' kxdims k-means model.)
    // anchor on user.dir but verify it actually IS the repo root (sbt
    // forks with the project as CWD; any other runner gets a clear
    // failure instead of a silent empty scan)
    val qdir = java.nio.file.Paths
      .get(sys.props("user.dir"), "src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(qdir),
      s"cannot locate query sources at $qdir — run tests from the repo root")
    val banned = Seq("format(\"memory\")", ".collect()", "collectAsList",
      "toLocalIterator")
    val sources = java.nio.file.Files.list(qdir)
    try {
      sources.iterator().forEachRemaining { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        banned.foreach { pat =>
          assert(!text.contains(pat), s"$f contains driver materialization: $pat")
        }
      }
    } finally sources.close()
  }

  test("p33: HRW assignment is a join-free projection into one agg — no explode") {
    // the whole point vs the oracle's unnest+arg_max rendering: the
    // Spark plan assigns both shard sets in ONE stateless pass (a fold
    // over a constant shard array), so the only exchange is the final
    // S-group agg and the row count never multiplies by the shard count
    val p = planOf("p33_rendezvous_reshard")
    assert(!p.contains("Join"), s"p33 plans a join:\n$p")
    assert(!p.contains("Generate"), s"p33 explodes the shard array:\n$p")
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 2, s"p33 shuffles beyond the final agg:\n$p")
    assert(p.contains("partial"), s"p33 missing map-side partial agg:\n$p")
  }

  test("s19: all four rankings ride GroupTopK off ONE staged pair scan") {
    val p = planOf("s19_matryoshka_recall")
    // four rankings (8/16/32 + truth) — each a GroupTopKExec, never a
    // global sort of the q·n pair stream
    val topks = p.split("GroupTopK").length - 1
    assert(topks >= 4, s"s19 rankings fell off GroupTopK ($topks):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"s19 pair generation degraded to a cartesian:\n$p")
  }

  test("t22: the trigram stream partial-aggregates before its ONE exchange; " +
    "marginals broadcast back") {
    val p = planOf("t22_source_drift")
    assert(p.contains("partial"), s"t22 missing map-side partial agg:\n$p")
    // corpus-scale side never sort-merges: the source/bucket marginals
    // are broadcast-sized and must come back as broadcast joins
    assert(!p.contains("SortMergeJoin"),
      s"t22 joins a marginal by shuffle:\n$p")
  }

  test("q61: one staged corpus pass; the subset algebra is all broadcast") {
    // the mask histogram (<=15 rows by the 2^4 data contract) is the
    // ONLY product of corpus-scale work; staged so v(S) (read twice)
    // and the touched counts never re-run the touches |><| purchase
    // join. Everything after must be broadcast joins over literal
    // ranges — a sort-merge here would mean a corpus-sized key leaked
    // into the subset algebra.
    val p = planOf("q61_shapley_attribution")
    assert(!p.contains("SortMergeJoin"),
      s"subset algebra fell off broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val corpusScans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(corpusScans >= 3,
      s"expected the staged mask histogram at every consumer:\n$p")
    assert(!p.contains("Scan parquet"),
      s"a consumer bypassed the stage and re-reads the corpus:\n$p")
  }

  test("q62: the survival curve has NO window — bounded-table folds only") {
    // corpus-scale work is two per-user aggs + one duration-histogram
    // agg; the at-risk suffix and log-survival prefix accumulate as
    // single-row sorted-array folds over the bounded day table, so no
    // Window node (and hence no single-task sort of row data) exists
    // anywhere in the plan
    val p = planOf("q62_survival_km")
    assert(!p.contains("Window"), s"q62 grew a window:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 2,
      s"more single-partition exchanges than the two bounded folds:\n$p")
  }

  test("t25: positions ride EquiDepth's range exchange; bin cumsum is " +
    "source-partitioned") {
    // the token stream is ranked by ONE range exchange + pid-local
    // window (EquiDepth), never a single-task sort; the only other
    // corpus-scale exchange is the (source, term) first-occurrence
    // agg; the cumulative-V window runs source-PARTITIONED over the
    // <=40-row-per-source bin table
    val p = planOf("t25_heaps_law")
    assert(p.contains("windowspecdefinition(__gr_pid"),
      s"EquiDepth's pid-partitioned rank window is missing:\n$p")
    assert(p.contains("windowspecdefinition(source"),
      s"bin cumsum must partition by source:\n$p")
    val unpart = p.linesIterator.count(l =>
      l.contains("windowspecdefinition(") && !l.contains(
        "windowspecdefinition(__gr_pid") && !l.contains(
        "windowspecdefinition(source"))
    assert(unpart == 0, s"unexpected window spec in t25:\n$p")
  }

  test("q69/q70/q76/q77: eval statistics run fold-only — no Window, " +
    "one bounded single-partition collect each") {
    // corpus-scale work is the conv interval join + ONE partial agg
    // onto the <=100-key score domain; the statistic itself is a
    // single-row sorted-array fold — so no Window node may exist, and
    // the only SinglePartition exchanges are the bounded folds (q77
    // adds the broadcast of its 1-row qhat)
    Seq("q69_auc_roc", "q70_ks_separation", "q76_pr_curve").foreach {
      n =>
        val p = planOf(n)
        assert(!p.contains("Window"), s"$n grew a window:\n$p")
        assert(p.linesIterator
          .count(_.contains("Exchange SinglePartition")) <= 1,
          s"$n: more single-partition exchanges than its one fold:\n$p")
    }
    val p77 = planOf("q77_conformal_coverage")
    assert(!p77.contains("Window"), s"q77 grew a window:\n$p77")
  }

  test("q73/q74: changepoint and decomposition are fold-only over " +
    "the bounded month table") {
    Seq("q73_cusum_changepoint", "q74_seasonal_decompose").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("Window"), s"$n grew a window:\n$p")
    }
  }

  test("q72: the KLL buffer aggregates on the object-hash path and " +
    "exact values ride EquiDepth's pid window") {
    val p = planOf("q72_kll_quantile_merge")
    assert(p.contains("ObjectHashAggregate"),
      s"sketch buffer fell off ObjectHashAggregate (per-row codec " +
        s"round-trips on the sort path):\n$p")
    assert(p.contains("windowspecdefinition(__gr_pid"),
      s"EquiDepth's pid-partitioned rank window is missing:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the 12-row rank spine must broadcast:\n$p")
  }

  test("q75: the cumulative window runs over HISTOGRAM rows, " +
    "pair-partitioned; the pair-totals side broadcasts") {
    val p = planOf("q75_funnel_latency")
    assert(p.contains("windowspecdefinition(cur"),
      s"histogram cumsum must partition by the transition pair:\n$p")
    assert(p.contains("windowspecdefinition(user_id") ||
      p.contains("PartitionBy: [user_id"),
      s"the lead stream must stay user-partitioned:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"pair totals must broadcast onto the histogram:\n$p")
  }

  test("s23: the 5-term query set broadcasts onto the postings; " +
    "per-term cuts ride GroupTopK") {
    val p = planOf("s23_bm25")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term set must broadcast:\n$p")
    assert(p.contains("GroupTopK"),
      s"per-term top-10 must plan through GroupTopK:\n$p")
    assert(!p.contains("SortMergeJoin") ||
      p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"postings x lens may sort-merge at most once:\n$p")
  }

  test("s22: both retriever streams cut through GroupTopK before " +
    "the fusion join") {
    val p = planOf("s22_rrf_fusion")
    assert(p.linesIterator.count(_.contains("GroupTopK")) >= 3,
      s"expected GroupTopK on r1, r2, and the fused cut:\n$p")
  }

  test("every registered query stays off RDD fallbacks (no collect-driven loops)") {
    // structural smoke: building each plan succeeds and none mention
    // 'Scan ExistingRDD' (a sign of driver-side materialization).
    // Exempt: queries that deliberately localCheckpoint a reused
    // intermediate (executor-side caching, not a driver collect), and
    // the streaming loops (ps01/m06) whose run() executes a stream.
    val checkpoints = Set("d02_minhash_lsh", "d03_simhash",
      "t01_langid_ngram", "p06_connected_components",
      "t07_tfidf_keywords", "p07_token_rebalance",
      "mm05_image_neardup", "mm06_audio_neardup", "t09_bigram_ppl",
      "d10_repeated_spans", "d11_span_strip", "d14_containment",
      "t14_ngram_novelty", "q39_part_pagerank", "d16_nearest_dup",
      "q45_triangle_count", "s13_mmr_rerank", "t17_vocab_coverage",
      "d18_band_tuning", "t20_langid_confusion", "d19_threshold_sweep",
      "q43_equidepth_histogram", "q38_spend_quartiles",
      "q57_exact_quantiles", "d21_cdc_chunks", "d22_overlap_stitch",
      "mm13_phash_dct", "p31_dsir_importance", "s17_ann_probe_sweep",
      "t21_lm_backoff", "d23_incremental_chunks", "s18_cluster_purity",
      "mm14_audio_fingerprint", "s19_matryoshka_recall",
      "t22_source_drift", "t23_bpe_merges", "t24_bpe_fertility",
      "s20_compression_frontier", "t25_heaps_law",
      "q61_shapley_attribution", "q63_absorbing_markov",
      "t26_burstiness", "q64_path_mining", "s21_ann_tombstones",
      "q67_decile_lift", "p37_token_gini", "t27_pmi_collocations",
      "q72_kll_quantile_merge", "s23_bm25",
      "q83_theta_source_overlap", "q85_quality_length_spearman",
      "d24_winnowing", "q86_frequent_tokens",
      "q87_isotonic_calibration", "s24_dbscan", "q89_robust_location",
      "t28_jsd_drift", "q91_markov_removal", "p40_quantile_normalize",
      "q92_sketch_store_roundtrip", "q94_mann_whitney",
      "q97_acf", "d25_capture_recapture", "q98_kruskal_wallis",
      "q92b_store_quantiles")
    swept.filterNot(e => checkpoints.contains(e._1)).foreach { case (name, f) =>
      val plan = value(name, f.plan)
      assert(!plan.contains("Scan ExistingRDD"),
        s"$name materializes on the driver:\n$plan")
    }
    // an exemption is stale once its query is gone or no longer stages
    val stale = checkpoints.filterNot(name => swept.get(name).exists(f =>
      value(name, f.plan).contains("Scan ExistingRDD")))
    assert(stale.isEmpty, "stale checkpoints entries (unregistered, a " +
      s"stream loop, or no Scan ExistingRDD left): ${stale.mkString(", ")}")
  }
}
