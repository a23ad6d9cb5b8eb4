package graft

/** Plan-shape regression guards: the properties that decide whether a
  * query survives a 100× scale-up, asserted on the optimized/executed
  * plans so a future change can't silently trade them away. */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString()

  test("q02: filters and column pruning reach the parquet scan") {
    val plan = executedPlan("q02_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filter pushdown missing:\n$plan")
    assert(!plan.contains("l_partkey"), "scan reads columns the query never uses")
  }

  test("q03: both dimension joins broadcast (no shuffle of the fact side)") {
    val plan = executedPlan("q03_enrich_join")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, s"expected 2 BHJ:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$plan")
  }

  test("q01: aggregation is partial (map-side) before the single exchange") {
    val plan = executedPlan("q01_pricing_agg")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial+final aggregate expected:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"exactly one shuffle expected:\n$plan")
  }

  test("q05: upsert materialization has no sort (max_by agg, not a rank window)") {
    val plan = executedPlan("q05_upsert_latest")
    assert(!plan.contains("Window"), s"latest-by-key must not window-sort:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"), s"expected aggregate-based upsert:\n$plan")
  }

  test("q21: corpus side is never shuffled (queries broadcast)") {
    val plan = executedPlan("q21_knn_brute")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n$plan")
  }

  test("q39: IVF assignment is a per-row expression — corpus never shuffles for it") {
    val df = SparkEntry.queries("q39_knn_ivf")(spark, dir)
    df.collect()
    // AQE's toString echoes the pre-adaptive plan too — assert on the
    // final section only
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("nearest_centroids"), s"centroid expr missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$plan")
    // the only exchange allowed is the per-query top-k window over the
    // (small) candidate set — never the assignment itself
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"unexpected shuffle in IVF plan:\n$plan")
  }

  test("vector similarity uses the codegen dot product, not interpreted HOFs") {
    val df = SparkEntry.queries("q23_embedding_neardup")(spark, dir)
    df.collect() // finalize THIS query's adaptive plan
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("vector_dot"), s"VectorDot not in plan:\n$plan")
    assert(!plan.contains("zip_with"), s"interpreted HOF fallback:\n$plan")
    // '*(n)' node prefixes mark WholeStageCodegen stages in simpleString
    assert(plan.contains("*(1)"), s"codegen missing:\n$plan")
  }

  test("q23: near-dup pairs join only on LSH buckets — never the O(n²) cross product") {
    // the round-1 scale-killer was a BroadcastNestedLoopJoin over all
    // pairs; a refactor must not silently reintroduce it
    val df = SparkEntry.queries("q23_embedding_neardup")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs BNLJ regression:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product regression:\n$plan")
  }

  test("q18: the shingle-frequency cap anti-joins a broadcast hot set") {
    // the drop set (df > cap) is tiny by construction; the cap must be a
    // broadcast LeftAnti against it, not a shuffled inner join against
    // the huge <=cap keep set (~the whole shingle vocabulary)
    val df = SparkEntry.queries("q18_ngram_dedup")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("LeftAnti"), s"cap must be an anti-join:\n$plan")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"anti-join must broadcast the hot set:\n$plan")
  }

  test("q04: top-k runs below the join — ten rows meet orders, not the full aggregate") {
    val df = SparkEntry.queries("q04_revenue_topn")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must be partial-heap, not global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"10-row side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"join degraded to SMJ:\n$plan")
  }

  test("q19: MinHash verify tail is the codegen kernel, not interpreted HOFs") {
    val df = SparkEntry.queries("q19_minhash_lsh")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("signature_agreement"), s"SignatureAgreement missing:\n$plan")
    assert(!plan.contains("zip_with"), s"interpreted HOF verify tail:\n$plan")
  }

  test("q42: top-k is a bounded heap over the aggregate, never a global sort") {
    val df = SparkEntry.queries("q42_heavy_hitters")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary top-k must be TakeOrderedAndProject:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"token counts must partial-aggregate map-side:\n$plan")
  }

  test("q43: the corpus is tokenized ONCE — df reuses the cached tf aggregate") {
    val df = SparkEntry.queries("q43_tfidf")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Generate explode".r.findAllIn(plan).size === 1,
      s"tf must be cached — uncached, the corpus re-tokenizes per use:\n$plan")
  }

  test("q44: content-hash sampling is a pure scan filter — zero shuffles") {
    val plan = executedPlan("q44_hash_sample")
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("q45: quantiles reuse the window's partitioning — one shuffle, no global window") {
    val df = SparkEntry.queries("q45_token_quantiles")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"window partitioning must satisfy the final aggregation:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"quantile window must be partitioned by group, not global:\n$plan")
  }

  test("q48: hot-fingerprint cap is a broadcast anti-join; pairs never cross-product") {
    val plan = executedPlan("q48_fingerprint_overlap")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fingerprint overlap must stay an equi-join on fp:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"hot-fp cap must broadcast-anti-join the tiny drop set:\n$plan")
  }

  test("q49: k-means final assignment is a pure per-row kernel — no join, no shuffle") {
    val dfq = SparkEntry.queries("q49_kmeans_refine")(spark, dir)
    val plan = dfq.queryExecution.executedPlan.toString()
    assert(plan.contains("centroid_assign_l2"), s"codegen assignment kernel missing:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"assignment must not shuffle or join the corpus:\n$plan")
  }

  test("q47: component labels and sizes join hash-partitions on the id — no cross product") {
    val plan = executedPlan("q47_dedup_clusters")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"clustering must stay sparse:\n$plan")
  }

  test("q56: SemDeDup pairs join only WITHIN a cluster — never the n² cross product") {
    // the whole point of SemDeDup is Σ n_c² instead of n²: the pair join
    // must stay an equi-join on the cluster id
    val df = SparkEntry.queries("q56_semdedup")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"semantic dedup degraded to all-pairs:\n$plan")
    assert(plan.contains("vector_dot"), s"per-pair work must be the codegen dot:\n$plan")
    assert(plan.contains("centroid_assign_l2"), s"assignment must be the per-row kernel:\n$plan")
  }

  test("q57: token-budget mix reads the text column ONCE — no per-row join") {
    val df = SparkEntry.queries("q57_token_budget_mix")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).size === 1,
      s"the corpus must be scanned exactly once:\n$plan")
    assert(!plan.contains("Join"), s"rates derive from the tiny pre-agg, never a row join:\n$plan")
  }

  test("q58: CMS probe join broadcasts the d·w-cell sketch; vocab aggregates once") {
    val df = SparkEntry.queries("q58_cms_estimates")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), s"sketch must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"probe join degraded to SMJ:\n$plan")
    assert("Generate explode".r.findAllIn(plan).size <= 2,
      s"vocab must be cached — uncached, the corpus re-tokenizes per use:\n$plan")
  }

  test("q59: char entropy is a pure per-row scan — zero shuffles, codegen kernel") {
    val plan = executedPlan("q59_char_entropy")
    assert(!plan.contains("Exchange"), s"entropy must not shuffle:\n$plan")
    assert(plan.contains("char_entropy"), s"codegen kernel missing:\n$plan")
  }

  test("q61: inter-doc gram stats never pair up docs — df join keys on the gram hash") {
    val df = SparkEntry.queries("q61_interdup_grams")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nothing pairwise may materialize:\n$plan")
    // both the df aggregate and the join side must read the POSTING
    // CACHE (InMemoryRelation prints its build plan, so counting
    // Generate nodes overcounts — count the cache scans instead)
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"postings must be cached — uncached, the corpus re-tokenizes per use:\n$plan")
  }

  test("q62: bloom filter bits and reference grams broadcast; corpus never re-shuffles for membership") {
    val df = SparkEntry.queries("q62_bloom_decontaminate")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), s"membership joins must broadcast:\n$plan")
    assert(plan.contains("LeftSemi"), s"bit membership must be a semi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"bounded filter side degraded to SMJ:\n$plan")
  }

  test("q63: per-dimension stats are one map-combinable shuffle — no join") {
    val df = SparkEntry.queries("q63_embedding_dimstats")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"dim stats must not join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"one dim-key shuffle expected:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"per-dim sums must partial-aggregate map-side:\n$plan")
  }

  test("q64: materialization is ONE anti-join on the id — doc rows never enter clustering") {
    val df = SparkEntry.queries("q64_dedup_materialize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("LeftAnti"), s"survivors = corpus anti-join drop set:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"clustering must stay sparse:\n$plan")
  }

  test("q67: unigram scoring tokenizes ONCE (cached token stream); no cross product") {
    val df = SparkEntry.queries("q67_unigram_logprob")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), s"cartesian regression:\n$plan")
    // vocab agg, total agg and the join side must all read the cache
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"token stream must be cached — uncached, the corpus re-tokenizes per use:\n$plan")
  }

  test("q71: weighted pairs stay an inverted-index equi-join; hot grams broadcast-anti-join") {
    // pre-execution plan: AQE's empty-relation propagation would
    // legitimately erase the (empty at this SF) anti-join from the
    // final plan — the SHAPE is what this guard locks
    val plan = executedPlan("q71_idf_cosine_pairs")
    assert(!plan.contains("CartesianProduct"),
      s"weighted similarity degraded to all-pairs:\n$plan")
    // the only BNLJs allowed are Cross joins against the broadcast
    // 1-row N aggregate (the tfIdf in-plan-N pattern) — any doc×doc
    // BNLJ would be the all-pairs regression
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("Cross"), s"non-cross BNLJ in pair plan:\n$plan"))
    assert(plan.contains("LeftAnti"), s"hot-gram cap must be an anti-join:\n$plan")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"gram postings and weights must be cached:\n$plan")
  }

  test("q72: BM25 term filter reaches the scan; top-k is a bounded heap") {
    val df = SparkEntry.queries("q72_bm25_search")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be partial-heap, not global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"df/stats joins must broadcast:\n$plan")
    // the IN (query terms) predicate must prune the token stream BEFORE
    // the tf aggregate — scoring never aggregates the full vocabulary
    assert(plan.contains("Filter") && plan.contains("INSET") || plan.contains(" IN ("),
      s"query-term filter missing below the aggregate:\n$plan")
  }

  test("q76: leakage membership is a semi-join on the gram hash; postings cached") {
    val df = SparkEntry.queries("q76_split_leakage")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"leakage audit degraded to all-pairs:\n$plan")
    assert(plan.contains("LeftSemi"), s"membership must be a semi-join:\n$plan")
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"gram postings must be cached across the three uses:\n$plan")
  }

  test("q77: percentile normalization windows per language, never globally") {
    val plan = executedPlan("q77_quality_percentile")
    assert(!plan.contains("Exchange SinglePartition"),
      s"percent_rank must partition by lang, not move all rows to one partition:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"one lang-key shuffle expected:\n$plan")
  }

  test("q65: chunking is a pure per-row explosion — zero shuffles, zero joins") {
    val plan = executedPlan("q65_chunking")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"chunking must stay row-local:\n$plan")
  }

  test("q66: windowed dedup is one combinable min_by aggregation — no rank window") {
    val plan = executedPlan("q66_window_dedup")
    assert(!plan.contains("Window"), s"windowed dedup must not window-sort:\n$plan")
    // struct-buffer min_by compiles to SortAggregate; the property that
    // matters is the MAP-SIDE partial before the single exchange
    assert(plan.contains("partial_min_by"),
      s"min_by must partial-aggregate map-side:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"exactly one shuffle expected:\n$plan")
  }

  test("q70: sequence packing is one per-domain window — text never enters the sort") {
    val plan = executedPlan("q70_sequence_packing")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"one domain-key shuffle expected:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing must partition by domain, not globally:\n$plan")
    // only (id, domain, n_tokens) may flow into the window sort — the
    // text column must be projected away at the scan
    val sortLine = plan.linesIterator.find(_.contains("Sort [")).getOrElse("")
    assert(!sortLine.contains("text"), s"text reached the window sort:\n$plan")
  }

  test("q73: RRF fuses two top-k lists — no unbounded join, bounded heap output") {
    val df = SparkEntry.queries("q73_hybrid_rrf")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"fused top-k must be a bounded heap:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian regression:\n$plan")
  }

  test("q74: funnel joins are equi-joins on the user key with partial aggregation") {
    val plan = executedPlan("q74_conversion")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"funnel must stay an equi-join on user_id:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"per-user firsts must partial-aggregate map-side:\n$plan")
  }

  test("q60: recall eval never cross-products (BNLJ allowed only in the brute leg)") {
    val df = SparkEntry.queries("q60_ann_recall")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"), s"cartesian regression:\n$plan")
    // exactly the one deliberate BNLJ: the ground-truth brute-force leg
    // (computed ONCE — mark-and-aggregate, not a second pass for counts)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"only the brute-force ground-truth leg may BNLJ:\n$plan")
  }

  test("q78/q79: gopher rules and PII scrub are pure per-row scans — zero shuffles, no UDFs") {
    Seq("q78_gopher_rules", "q79_pii_redact").foreach { name =>
      val plan = executedPlan(name)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name must stay codegen, no UDFs:\n$plan")
    }
  }

  test("q80: gram novelty never pairs docs — first-seen join keys on the gram hash") {
    val df = SparkEntry.queries("q80_gram_novelty")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nothing pairwise may materialize:\n$plan")
    // min-agg side and join-back side must both read the posting cache
    // (q61's rule: counting Generate nodes overcounts through
    // InMemoryRelation's printed build plan)
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"postings must be cached — uncached, the corpus re-tokenizes per use:\n$plan")
  }

  test("q81: corpus card is two map-combinable shuffles (distinct-fp dedup + group keys) — no join, no window") {
    val df = SparkEntry.queries("q81_corpus_card")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"card must not join:\n$plan")
    assert(!plan.contains("Window"), s"card must not window:\n$plan")
    // count(distinct fp) legitimately needs a (keys, fp) dedup stage
    // before the group-key stage; anything beyond those two is a
    // regression
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"two shuffles expected (fp-dedup + group keys):\n$plan")
    assert(plan.contains("partial_count"),
      s"stats must partial-aggregate map-side:\n$plan")
  }

  test("q82/q85: classifier and quality sample are pure per-row scans — zero exchanges") {
    for (q <- Seq("q82_hash_classifier", "q85_quality_sample")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"), s"$q must ride the scan:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("Window"),
        s"$q is per-row only:\n$plan")
    }
    assert(executedPlan("q82_hash_classifier").contains("hashed_weight_sum"),
      "classifier must use the codegen kernel, not an interpreted HOF")
  }

  test("q83/q86: mixture and drift pre-aggregate to tiny frames; no second row-volume pass") {
    for (q <- Seq("q83_domain_mixture", "q86_psi_drift")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      // the only row-volume shuffle allowed is the per-category
      // pre-aggregate; totals fold into a tiny-frame window
      assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
        s"$q: one combinable shuffle expected:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: scalar join degraded to SMJ:\n$plan")
    }
    // q83: the corpus is scanned ONCE — cross-domain totals must not
    // re-read documents for a 1-row result
    val p83 = executedPlan("q83_domain_mixture")
    assert("FileScan parquet".r.findAllIn(p83).size === 1,
      s"q83 must single-scan the corpus:\n$p83")
    // q86: the split point comes in as a broadcast 1-row bounds frame
    // (it gates the per-event half assignment, so a second events scan
    // for min/max is inherent — but it must broadcast, never shuffle)
    val p86 = SparkEntry.queries("q86_psi_drift")(spark, dir)
    p86.collect()
    val plan86 = p86.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan86.contains("BroadcastNestedLoopJoin"),
      s"q86 bounds must broadcast:\n$plan86")
  }

  test("q87: PQ ADC scan — corpus encodes per-row, queries broadcast, one top-k window") {
    val df = SparkEntry.queries("q87_pq_adc")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("pq_encode") && plan.contains("adc_distance"),
      s"ADC must run on compressed codes via the codegen kernels:\n$plan")
    // the query side (tiny by construction) broadcasts; the corpus is
    // never hash-shuffled except for the per-query top-k window
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"only the top-k window may shuffle:\n$plan")
  }

  test("q88: rerank fetches full vectors ONLY for the broadcast shortlist") {
    val df = SparkEntry.queries("q88_pq_rerank")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("pq_encode") && plan.contains("vector_l2sq"),
      s"ADC nomination + exact refold kernels expected:\n$plan")
    // both the shortlist→corpus fetch and the query-vector attach must
    // broadcast — the corpus is never hash-shuffled for the join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"rerank joins must broadcast:\n$plan")
    // exchanges: ADC top-k window + final ≤shortlist-row window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"only the two rank windows may shuffle:\n$plan")
  }

  test("q89: source overlap joins DISTINCT (source, gram) rows — doc explode never self-joins") {
    val df = SparkEntry.queries("q89_source_overlap")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"source pairs must meet on the gram key:\n$plan")
    // the deduped (source, gram) frame is cached (q61's rule: node
    // COUNTS overcount through InMemoryRelation's printed build plan
    // and undercount through AQE stage reuse — assert presence only)
    assert(plan.contains("InMemoryTableScan"),
      s"distinct gram frame must be cached:\n$plan")
  }

  test("q90: KMV overlap's pairwise stage reads cached sketch rows, never the corpus") {
    val df = SparkEntry.queries("q90_kmv_source_overlap")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // the only cross product is |sources|×|sources| (tiny, broadcast);
    // sketch rows come from the cache — the corpus never re-tokenizes
    // into the pair join
    assert(plan.contains("InMemoryTableScan"),
      s"bottom-k sketch must be cached:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"source pairing must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sketch joins must stay broadcast/hash:\n$plan")
  }

  test("q92: purity cross-tab partial-aggregates; assignment frame cached") {
    val df = SparkEntry.queries("q92_cluster_purity")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_count"),
      s"contingency must map-combine:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"kmeans assignment must be cached (feeds join + its own pass):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"label attach is an id equi-join:\n$plan")
    spark.catalog.clearCache()
  }

  test("q91: profile bounds broadcast into the scan; histogram is one combinable shuffle") {
    val df = SparkEntry.queries("q91_numeric_profile")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row bounds/moments must broadcast:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      s"only the ≤bins-group aggregate may shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"profile needs no sort/window:\n$plan")
  }

  test("q84: chunk dup is an inverted count-join on the block hash — no doc pairs") {
    val df = SparkEntry.queries("q84_chunk_dup")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("chunk_hashes48"),
      s"block hashing must be the codegen kernel:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nothing pairwise may materialize:\n$plan")
    // count side and join-back side must both read the block cache
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"blocks must be cached — uncached, the corpus re-tokenizes per use:\n$plan")
  }

  test("q93: top-V limit runs before the rank window; totals broadcast as 1 row") {
    val plan = executedPlan("q93_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-V must be TakeOrderedAndProject, not a global sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no SMJ expected:\n$plan")
  }

  test("q94: top-K bigrams broadcast into the unigram lookups — vocab never broadcast") {
    val df = SparkEntry.queries("q94_pmi_bigrams")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"both unigram lookups must be broadcast joins of the K-row side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a vocab-sized shuffle join means the wrong side broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-K must limit first:\n$plan")
  }

  test("q98: cached bigram stream feeds count-agg AND join-back; nothing pairwise") {
    val df = SparkEntry.queries("q98_bigram_lm")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"bigram stream must be cached (else the corpus re-tokenizes per use):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    spark.catalog.clearCache()
  }

  test("q101: covered-start discovery is a df count-join on the gram hash — no doc pairs") {
    val df = SparkEntry.queries("q101_exact_substr")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("positional_gram_hashes48"),
      s"positional grams must come from the codegen kernel:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nothing pairwise may materialize:\n$plan")
    // df-agg side and join-back side must both read the cached postings
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"positional postings must be cached (else the corpus re-tokenizes per use):\n$plan")
    spark.catalog.clearCache()
  }

  test("q103: λ table broadcasts onto the token stream; totals fold the bucket frame") {
    val df = SparkEntry.queries("q103_dsir_weights")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the B-row λ table must broadcast — a shuffle join would re-key the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-sized join expected:\n$plan")
    // exactly one corpus-keyed exchange (the per-doc Σ) + one B-key
    // exchange (bucket counts) + the 1-row totals — never more
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"unexpected extra shuffle:\n$plan")
  }

  test("q104: source sizes broadcast; df joins key on (source, gram) — no doc pairs") {
    val df = SparkEntry.queries("q104_boilerplate")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the catalog-sized source-size frame must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"every join must stay an equi-join on (source, gram):\n$plan")
  }

  test("q105: weighted sample is a scan filter + TakeOrdered — no global sort, no shuffle") {
    val plan = executedPlan("q105_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition partial, not a global sort:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a range-partitioned sort means the whole corpus shuffles:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]"),
      s"the weight guard must reach the parquet scan:\n$plan")
  }

  test("q106: hard negatives broadcast the query set; per-query top-k is group-limited") {
    val df = SparkEntry.queries("q106_hard_negatives")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set must broadcast (corpus side never shuffles for the join):\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must prune below the exchange:\n$plan")
  }

  test("q107: per-group sample prunes to k below the exchange; weight guard pushed") {
    val df = SparkEntry.queries("q107_group_weighted_sample")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      s"per-group top-k must prune before the group exchange:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)]"),
      s"the weight guard must reach the parquet scan:\n$plan")
  }

  test("q108: corpus shuffles ONCE onto (source, bucket); all marginal joins broadcast") {
    val df = SparkEntry.queries("q108_source_js_divergence")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"),
      s"every join runs on tiny marginal frames — none may shuffle:\n$plan")
    // (source,bucket) pre-agg + tiny re-aggs of the cached frame; the
    // corpus-sized exchange must appear exactly once
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 3,
      s"unexpected extra shuffle:\n$plan")
  }

  test("q110: bounds broadcast back onto the ranked stream — one scan, one group shuffle") {
    val df = SparkEntry.queries("q110_winsorize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"catalog-sized bounds must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the ranked stream must never re-shuffle for the bounds join:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size === 1,
      s"the corpus must be scanned exactly once (cached ranked stream):\n$plan")
  }

  test("q111: eval grams semi-join the train gram index — no pairwise, kernel grams") {
    val df = SparkEntry.queries("q111_eval_contamination")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("positional_gram_hashes48"),
      s"eval positional grams must come from the codegen kernel:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"coverage must be a semi-join on the gram hash (train set is corpus-sized):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nothing pairwise may materialize:\n$plan")
  }

  test("q112: histogram aggregates the cached label frame once; text never re-enters") {
    val df = SparkEntry.queries("q112_dup_cluster_stats")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // the singleton-row derivation re-reads the size histogram, not the
    // corpus: both union branches must hit the cached bySize frame
    // (tree-walked — the printed plan truncates before the 2nd branch)
    assert(org.apache.spark.sql.GraftSqlBridge.countCacheScans(df) >= 2,
      s"size histogram must be cached (else components recompute per branch):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian regression:\n$plan")
    spark.catalog.clearCache()
  }

  test("q113: heaps fit never globally sorts the corpus; cached tokenize feeds both aggregates") {
    val df = SparkEntry.queries("q113_heaps_fit")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange rangepartitioning"),
      s"prefix assignment is integral off the 1-row id range — no corpus sort:\n$plan")
    assert(org.apache.spark.sql.GraftSqlBridge.countCacheScans(df) >= 2,
      s"the token stream must be cached (mass AND first-occurrence read it):\n$plan")
    spark.catalog.clearCache()
  }

  test("q114: k-row majority frame broadcasts; cached assignment-label frame feeds both sides") {
    val df = SparkEntry.queries("q114_label_noise")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the k-row majority frame must broadcast onto the assignment:\n$plan")
    assert(org.apache.spark.sql.GraftSqlBridge.countCacheScans(df) >= 2,
      s"assignment⋈label must be cached (contingency AND verdict read it):\n$plan")
    spark.catalog.clearCache()
  }

  test("q116: JL projection rides the scan — codegen kernel, zero exchanges") {
    val df = SparkEntry.queries("q116_jl_project")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("signed_projection"),
      s"projection must be the codegen kernel, not an interpreted HOF:\n$plan")
    assert(!plan.contains("Exchange"),
      s"a per-row kernel must never shuffle:\n$plan")
  }

  test("q117: mutual-kNN ranks prune below the exchange; both cached frames reused") {
    val df = SparkEntry.queries("q117_mutual_knn")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"),
      s"per-node top-k must prune before the rank exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates come from the bucket equi-join — nothing pairwise:\n$plan")
    assert(org.apache.spark.sql.GraftSqlBridge.countCacheScans(df) >= 3,
      s"verified pairs AND the ranked frame must be cached (each read twice):\n$plan")
    spark.catalog.clearCache()
  }

  test("q118: dim stats come back via broadcast — the exploded frame never shuffle-joins") {
    val df = SparkEntry.queries("q118_int8_quant")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"per-dim min/max must broadcast onto the second scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a shuffle join of the n·dim frame is the scale bug this guards:\n$plan")
  }

  test("q119: calibration is kernels + one agg — no join anywhere in the plan") {
    val df = SparkEntry.queries("q119_calibration")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"),
      s"score and label are same-row kernels; a join means a second scan:\n$plan")
  }

  test("q121: concentration plan is three bounded exchanges, window partitioned by lang") {
    val df = SparkEntry.queries("q121_token_gini")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(plan).size <= 4,
      s"per-(lang,source) agg + lang window + lang agg only:\n$plan")
    assert(!plan.contains("partitionSpec=[]"),
      s"the rank window must be lang-partitioned, never global:\n$plan")
  }

  test("q122: representative rank window partitions by cluster — never global") {
    val df = SparkEntry.queries("q122_quality_reps")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!plan.contains("partitionSpec=[]"),
      s"the (q_micro, id) rank must stay per-cluster:\n$plan")
    spark.catalog.clearCache()
  }

  test("q124: pair agg runs on the vocab frame; rank window sees only the pre-limited top-k") {
    val df = SparkEntry.queries("q124_bpe_merges")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a TakeOrderedAndProject, not a global sort:\n$plan")
  }

  test("q131: rank window is per-shard; the offset frame comes back broadcast") {
    val df = SparkEntry.queries("q131_global_shuffle")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("windowspecdefinition(shard"),
      s"the ordinal rank must partition by shard, never globally:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |shards|-row offset frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"offset join degraded to SMJ:\n$plan")
  }

  test("q133: moment frame broadcasts back; the corpus is never shuffled") {
    val df = SparkEntry.queries("q133_embedding_outliers")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row stats must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-row flags must not shuffle the corpus:\n$plan")
  }

  test("q134: hot-band cap is a broadcast anti-join on the band stream") {
    // asserted on the INITIAL plan: at fixture scale no band exceeds the
    // cap, so AQE's empty-relation propagation legitimately elides the
    // (empty) anti-join at runtime — the shape under load is what's locked
    val plan = executedPlan("q134_simhash_pairs")
    assert(plan.contains("LeftAnti"), s"hot-band cap must be an anti-join:\n$plan")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"the hot-band set must broadcast:\n$plan")
    spark.catalog.clearCache()
  }

  test("q136/q137: per-source profiles are ONE combinable shuffle, no joins") {
    for (q <- Seq("q136_char_classes", "q137_hapax")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Join"), s"$q must not join:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
        s"$q: more shuffles than the (token-count,) source fold:\n$plan")
    }
  }

  test("q140: dim-moment frame broadcasts back; the exploded stream never shuffle-joins") {
    val df = SparkEntry.queries("q140_embedding_zscore")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), s"|dims|-row stats must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"stats join degraded to SMJ:\n$plan")
  }

  test("q144: one corpus-sized distinct; everything after is register-frame math") {
    val df = SparkEntry.queries("q144_hll_distinct")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    // (grp,h) distinct + (grp,b) regs + grp fold + n_exact fold + the
    // regs⋈exact meet — all hash exchanges are combinable aggregates;
    // no window, no sort-merge of anything corpus-sized
    assert(!plan.contains("Window"), s"HLL must not window:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"distinct hash frame must be cached (feeds registers AND exact):\n$plan")
  }

  test("q145: med/MAD come back broadcast — the corpus never shuffle-joins") {
    val df = SparkEntry.queries("q145_mad_outliers")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), s"catalog-sized med/MAD must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"stats join degraded to SMJ:\n$plan")
  }

  test("q146: top-V vocab is a bounded TakeOrdered and broadcasts onto the token stream") {
    val df = SparkEntry.queries("q146_oov_rate")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-V must be a bounded heap, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"V-bounded vocab must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"membership degraded to SMJ:\n$plan")
  }

  test("q147: shard entropy is combinable aggregates only — no join, no window") {
    val plan = executedPlan("q147_shard_entropy")
    assert(!plan.contains("Join"), s"per-shard fold must not join:\n$plan")
    assert(!plan.contains("Window"), s"per-shard fold must not window:\n$plan")
  }

  test("q150: membership and df lookups broadcast; postings never sort-merge") {
    // the top-V TakeOrdered lives inside the cached vocab sub-plan;
    // what the parent plan must show is that every vocab-sized frame
    // comes back BROADCAST and nothing corpus-sized sort-merges
    val df = SparkEntry.queries("q150_cooccurrence")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"vocab membership + both df lookups must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"postings join degraded to SMJ:\n$plan")
  }

  test("global sweep: no query plans a CartesianProduct") {
    // crossJoin is only ever used against a broadcast 1-row aggregate
    // (BroadcastNestedLoopJoin); a CartesianProduct anywhere means an
    // equi-key was lost and the query would melt at scale.
    //
    // q2xx gates are excluded DELIBERATELY (round 21): their
    // constructors execute the full staged streaming replay — 453 s of
    // this suite's 537 s in the round-20 green run — and the only plan
    // the sweep can then see is the final changelog fold, which is a
    // join-free groupBy in every gate (asserted below), so the check
    // was vacuous there. The join plans that matter for the gates are
    // built per micro-batch inside StreamingStatementRunner and are
    // exercised by RegularJoinSpec/RegularJoinFuzzSpec.
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.matches("q2\\d{2}.*")).filter { name =>
        executedPlan(name).contains("CartesianProduct")
      }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("q2xx gate folds stay join-free (keeps the cartesian sweep's exclusion honest)") {
    // the sweep above skips q2xx because running their constructors
    // costs a full replay each; this guard pins the precondition that
    // makes the skip sound — a gate's RETURNED plan never contains a
    // join node, so a cartesian there is impossible by construction.
    // Runner gates return a SparkEntry.GateFold, which can only project
    // or retract-net-fold one table: the type rules out a join. Every
    // other q2xx name must be listed here as a StreamReplay gate, whose
    // fold keeps a source-level check (no replay needed): the text
    // after the replay's stopAll() up to the block end must not call
    // .join/crossJoin. If a future gate legitimately adds a join to its
    // fold, move that gate back into the sweep instead of weakening
    // this test.
    val replayGates = Set(
      "q200_temporal_join_eventtime", "q201_stream_neardup_gate",
      "q203_stream_tumble_replay", "q204_stream_interval_join",
      "q205_stream_session_replay", "q206_stream_retract_net",
      "q207_stream_proctime_temporal", "q208_stream_hop_replay",
      "q209_stream_cumulate_replay", "q211_stream_dedup_first",
      "q212_stream_hll_window", "q213_stream_kmv_window",
      "q214_stream_psi_window", "q215_stream_js_window",
      "q216_stream_burst_window", "q217_stream_corpus_card",
      "q218_stream_calibration", "q219_stream_lang_agreement",
      "q220_stream_novelty_presence", "q221_stream_nearvec_gate",
      "q222_stream_interval_outer", "q223_stream_quantile_window")
    val runnerGates = SparkEntry.runnerGates.keySet
    val q2xx = SparkEntry.queries.keySet.filter(_.matches("q2\\d{2}_.*"))
    assert(runnerGates.subsetOf(q2xx) && replayGates.subsetOf(q2xx),
      s"listed gates missing from queries: ${(runnerGates ++ replayGates) -- q2xx}")
    assert((runnerGates & replayGates).isEmpty)
    assert(q2xx -- runnerGates -- replayGates == Set.empty,
      "q2xx gates that are neither runner gates nor listed StreamReplay gates: " +
        (q2xx -- runnerGates -- replayGates).toSeq.sorted)

    val src = {
      val s = scala.io.Source.fromFile(
        "src/main/scala/graft/SparkEntry.scala", "UTF-8")
      try s.mkString finally s.close()
    }
    val blocks = src.split("\"(?=q2\\d{2}_)").toSeq.tail
      .filter(b => replayGates.contains(b.takeWhile(_ != '"')))
    assert(blocks.map(_.takeWhile(_ != '"')).toSet == replayGates,
      "every listed StreamReplay gate must have a source block to check")
    val offenders = blocks.flatMap { b =>
      val name = b.takeWhile(_ != '"')
      val fold = b.split("stopAll\\(\\)").last
        .split("\"q\\d+_").head
      if (fold.contains(".join(") || fold.contains("crossJoin")) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"q2xx folds now contain joins — re-include in the sweep: $offenders")
  }

  test("cache hygiene: no InMemoryRelation survives a query's first action (CacheScope)") {
    import org.apache.spark.sql.GraftSqlBridge
    // every operator that caches an intermediate — exact-scope contract:
    // the cache is registered at plan construction and released by the
    // listener after the first completed action on the result
    val cacheHeavy = Seq(
      "q18_ngram_dedup", "q19_minhash_lsh", "q41_decontaminate",
      "q43_tfidf", "q47_dedup_clusters", "q48_fingerprint_overlap",
      "q56_semdedup", "q58_cms_estimates", "q61_interdup_grams",
      "q62_bloom_decontaminate", "q64_dedup_materialize",
      "q67_unigram_logprob", "q71_idf_cosine_pairs", "q76_split_leakage",
      "q80_gram_novelty", "q84_chunk_dup", "q89_source_overlap",
      "q90_kmv_source_overlap", "q92_cluster_purity", "q96_ppl_band",
      "q97_epoch_mix", "q98_bigram_lm", "q100_incremental_dedup",
      "q101_exact_substr", "q102_pipeline_manifest", "q103_dsir_weights",
      "q104_boilerplate", "q108_source_js_divergence", "q109_leakage_safe_split",
      "q110_winsorize", "q112_dup_cluster_stats", "q113_heaps_fit",
      "q114_label_noise", "q117_mutual_knn", "q120_textrank",
      "q122_quality_reps", "q123_lsh_recall", "q128_lexical_diversity")
    // earlier plan-shape tests construct (and thus cache-register)
    // plans without ever acting on them — start from a clean slate
    graft.operators.CacheScope.releaseAll()
    spark.catalog.clearCache()
    for (name <- cacheHeavy) {
      SparkEntry.queries(name)(spark, dir).count()
      // listener delivery rides the (async) listener bus — poll
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!GraftSqlBridge.cacheManagerIsEmpty(spark) &&
             System.nanoTime() < deadline)
        Thread.sleep(25)
      assert(GraftSqlBridge.cacheManagerIsEmpty(spark),
        s"$name left cached plans behind after its action")
    }
  }

  test("q151: the Levenshtein DP joins capped candidates to prefixes — no cartesian, hot-band anti-join") {
    val df = SparkEntry.queries("q151_template_pairs")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // hot-band cap must stay a broadcast anti-join (q18's guard idiom)
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"hot-band cap must broadcast-anti-join:\n$plan")
    // the levenshtein verify must sit above equi-joins, never a BNLJ
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"edit verify must ride candidate equi-joins:\n$plan")
    assert(plan.contains("levenshtein"), s"edit verify missing:\n$plan")
  }

  test("q153: containment keeps q18's inverted-index shape — anti-join cap, no pair product") {
    val df = SparkEntry.queries("q153_containment_pairs")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"hot-gram cap must broadcast-anti-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"containment must never cross-product:\n$plan")
  }

  test("q152: ranks come from the value-histogram — no global window over corpus rows") {
    val df = SparkEntry.queries("q152_signal_spearman")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // the empty-frame global window is ONLY legal on the per-value
    // count frames (post-aggregate); the corpus rows must reach the
    // rank join through an aggregate, never through a Window directly
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"value histogram must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cross product:\n$plan")
  }

  test("q154/q155: margins and moments broadcast back onto their cell/window frames") {
    for (name <- Seq("q154_source_lang_assoc", "q155_burst_windows")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$name: small stats frame must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: stats join degraded to SMJ:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name: cell/window counts must partial-aggregate:\n$plan")
    }
  }

  test("q156: centroids broadcast onto one corpus scan — corpus never shuffles for the score") {
    val df = SparkEntry.queries("q156_label_compactness")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid frame must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"centroid join degraded to SMJ:\n$plan")
    assert(plan.contains("vector_dot"), s"codegen dot kernel missing:\n$plan")
  }

  test("composite pipelines run exactly ONE LSH clustering pass, checkpointed out of the plan") {
    // the composites embed dedupClusters (LSH pairs → components loop).
    // Two invariants a cache/checkpoint refactor could silently break:
    //  1. construction builds the LSH pair list exactly once (a second
    //     minHashLshPairs call = clustering re-run from scratch);
    //  2. the RETURNED plan contains no MinHash expression — the loop's
    //     localCheckpoint must fully materialize clustering, otherwise
    //     every downstream action re-executes the LSH join cascade.
    // round 10: the analysis composites feed from the shared persisted
    // LSH index (SparkEntry.sharedDupPairs), so they must build the
    // from-scratch pair list ZERO times; q102 keeps the from-scratch
    // path (it is the one-pass pipeline-manifest contract) and must
    // build it exactly once
    val composites = Seq("q102_pipeline_manifest" -> 1L,
      "q109_leakage_safe_split" -> 0L, "q112_dup_cluster_stats" -> 0L,
      "q122_quality_reps" -> 0L)
    for ((name, expected) <- composites) {
      val before = graft.operators.Dedup.lshPairsInvocations.get()
      val df = SparkEntry.queries(name)(spark, dir)
      val calls = graft.operators.Dedup.lshPairsInvocations.get() - before
      assert(calls === expected,
        s"$name built the LSH pair list $calls times — expected $expected " +
          "(indexed composites read sharedDupPairs, never re-sketch)")
      val plan = org.apache.spark.sql.GraftSqlBridge.analyzedPlan(df)
      val leaked = plan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.expressions.MinHashTokens])))
      assert(!leaked, s"$name's returned plan re-evaluates MinHash — the " +
        "components loop must checkpoint clustering behind it")
    }
  }

  test("q160: span strip is the codegen merge-walk riding the doc scan") {
    val plan = executedPlan("q160_strip_dup_spans")
    assert(plan.contains("tokens_outside_intervals"),
      s"strip must be the codegen kernel, not an exists-per-token HOF:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("q161: top-N is TakeOrdered (no global sort materialization), no join of the token stream") {
    val plan = executedPlan("q161_head_token_bias")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must be TakeOrdered, not a full Sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"only the broadcast totals row may join:\n$plan")
  }

  test("q162: layout audit is one combinable agg riding the scan — no sort, no window, one shuffle") {
    val plan = executedPlan("q162_zorder_tiles")
    assert(plan.contains("zorder_key"),
      s"tile key must be the codegen Morton expression:\n$plan")
    assert(!plan.contains("Sort") && !plan.contains("Window"),
      s"the AUDIT must not pay the layout's sort:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"exactly one shuffle (the tile agg) expected:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial+final aggregate expected:\n$plan")
  }

  test("q163: 1-bit verify is XOR+popcount on packed longs; candidates stay band-bucketed equi-joins") {
    val plan = executedPlan("q163_bbit_minhash")
    assert(plan.contains("pack_low_bits"),
      s"signatures must be packed by the codegen kernel:\n$plan")
    assert(plan.contains("bit_count"),
      s"1-bit agreement must be the popcount identity:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay an equi-join on (band, bucket):\n$plan")
  }

  test("q164: first-seen windows are entity-keyed — nothing collapses to one partition") {
    val plan = executedPlan("q164_novelty_timeline")
    assert(!plan.contains("Exchange SinglePartition"),
      s"keyed min-window must not single-partition the presence frame:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"day join must stay an equi-join:\n$plan")
  }

  test("q166: covariance is the one-pass Gram sketch; the eigen step is bounded-local") {
    // the returned frame must be the 64-row DRIVER result (the eigen
    // iteration ran on the collected 2145-double sketch), and the
    // sketch plan itself must be scan → partial agg → 1-row merge with
    // no 64×64 dim explosion
    val plan = executedPlan("q166_top_principal")
    assert(plan.contains("LocalTableScan") && !plan.contains("parquet"),
      s"result must be the bounded driver frame:\n$plan")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val sketch = emb.where(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")) === 64)
      .agg(org.apache.spark.sql.functions.udaf(
        new graft.operators.Similarity.GramMatrixAgg(64))
        .apply(org.apache.spark.sql.functions.col("embedding")))
    val splan = sketch.queryExecution.executedPlan.toString()
    assert(!splan.contains("Generate"),
      s"the Gram aggregate must replace the 64×64 posexplode:\n$splan")
    assert(!splan.contains("Exchange hashpartitioning"),
      s"only the 1-row global-agg exchange is allowed:\n$splan")
  }

  test("q168: residual scoring is one codegen kernel on the scan; top-N is TakeOrdered") {
    val plan = executedPlan("q168_pca_residual")
    assert(plan.contains("residual_energy"),
      s"per-row score must be the fused kernel, not HOF math:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must be TakeOrdered, not a full Sort:\n$plan")
    assert(!plan.contains("Generate") && !plan.contains("Join"),
      s"the scoring scan joins nothing and explodes nothing:\n$plan")
  }

  test("q170: continuation join is gram-keyed with broadcast anti-join caps — no pair product") {
    val plan = executedPlan("q170_continuation_chains")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"edges must come from the gram equi-join:\n$plan")
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).size >= 2,
      s"both fanout caps must be broadcast anti-joins:\n$plan")
  }

  test("q158: indexed pair join is exchange-free over the bucketed index; no text rescan") {
    // the whole point of the persisted index: the candidate self-join
    // inherits the write-time bucket layout (no exchange under the
    // join) and the corpus text is never re-hashed (no documents scan,
    // no MinHash expression anywhere in the plan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q158_lsh_indexed_pairs")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("documents.parquet"),
        s"indexed pairs must read the index, not the corpus text:\n$plan")
      assert(!plan.contains("min_hash_tokens") && !plan.contains("MinHashTokens"),
        s"signatures must come from the index, not be recomputed:\n$plan")
      // exactly ONE shuffle: the candidate-pair distinct. The bucket
      // self-join itself must ride the write-time layout.
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
        s"expected only the pair-distinct exchange:\n$plan")
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"bucketed self-join should be SMJ:\n$plan")
      assert(!plan.substring(joinIdx).contains("Exchange"),
        s"self-join must be exchange-free over the bucketed index:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_q158")
    }
  }

  test("q183: tombstone anti-join broadcasts and keeps the pair self-join exchange-free") {
    // the delete path must stay O(index-scan): tombstones broadcast
    // (never a shuffled anti-join — deletes are tiny vs the corpus)
    // and the broadcast join preserves the bucketed layout under the
    // SMJ, so logical deletes cost nothing at 100 TB
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executedPlan("q183_lsh_tombstones")
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"tombstones must broadcast-anti-join:\n$plan")
      assert(!plan.contains("min_hash_tokens") && !plan.contains("MinHashTokens"),
        s"tombstone read must not re-sketch:\n$plan")
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"pair self-join must stay exchange-free over the bucketed index:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q187: occupancy card is two combinable aggs over the index — no join, no text") {
    val plan = executedPlan("q187_lsh_bucket_stats")
    assert(!plan.contains("documents.parquet") && !plan.contains("MinHashTokens"),
      s"occupancy reads the index, never the corpus:\n$plan")
    assert(!plan.contains("Join"), s"histogram needs no join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"two keyed aggs at most:\n$plan")
  }

  test("q186: sweep reads the pair list once (cached) — no per-threshold index rescan") {
    val before = graft.operators.Dedup.lshPairsInvocations.get()
    val df = SparkEntry.queries("q186_dedup_threshold_sweep")(spark, dir)
    assert(graft.operators.Dedup.lshPairsInvocations.get() === before,
      "sweep must read the persisted index, never re-sketch")
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("MinHashTokens"),
      s"sweep must not recompute signatures:\n$plan")
    // the pair list is cached and the two aggregate branches read the
    // InMemoryRelation — four thresholds must not mean four index scans
    assert(plan.contains("InMemoryTableScan"),
      s"pair list must be cached across the sweep branches:\n$plan")
  }

  test("q188: decontam list joins pairs to ID-ONLY bucket projections — text never scanned") {
    val plan = executedPlan("q188_neardup_decontam")
    assert(!plan.contains("MinHashTokens"),
      s"pairs must come from the index:\n$plan")
    // the two bucket lookups project doc_id only: every documents scan
    // in the plan must read just the id column
    val reads = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
      .filter(_.contains("doc_id"))
    assert(reads.nonEmpty && reads.forall(!_.contains("text")),
      s"bucket lookups must not read text:\n$reads")
  }

  test("q185: IVF tombstone anti-join broadcasts over the partition-pruned scan") {
    val df = SparkEntry.queries("q185_ivf_tombstones")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstones must broadcast-anti-join:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("cent_id"),
      s"the pruned index scan must survive the tombstone filter:\n$plan")
  }

  test("q190/q191: replace-lifecycle reads inherit the maintained index's plan guarantees") {
    // the lifecycle's value is that a maintained (compacted+appended)
    // generation is indistinguishable from a fresh build to every
    // consumer — including the PLAN: q190's pair join must stay
    // exchange-free over the v2 bucketed table with no text rescan,
    // and q191's kNN must keep pruning the v2 partitioned scan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q190_lsh_replace_lifecycle")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("documents.parquet") &&
          !plan.contains("MinHashTokens") && !plan.contains("min_hash_tokens"),
        s"lifecycle pair read must come from the index alone:\n$plan")
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"pair self-join must stay exchange-free over the compacted+appended table:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_q190")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_q190_v2")
    }
    val knn = SparkEntry.queries("q191_ivf_replace_lifecycle")(spark, dir)
    knn.collect()
    val kplan = knn.queryExecution.executedPlan.toString()
    assert(kplan.contains("PartitionFilters") && kplan.contains("cent_id"),
      s"kNN over the maintained IVF generation must keep partition pruning:\n$kplan")
  }

  test("q192: pair join stays exchange-free over the re-bucketed (widened) layout") {
    // the re-layout's entire purpose is keeping the exchange-free join
    // as per-bucket masses grow — losing the bucket spec on the write
    // would silently reintroduce the corpus-sized shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q192_lsh_rebucket")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"pair self-join must be exchange-free over the widened layout:\n$plan")
      assert(!plan.contains("documents.parquet") && !plan.contains("MinHashTokens"),
        s"re-bucketing must not re-scan or re-sketch the corpus in the read path:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_q192")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_q192_w")
    }
  }

  test("q193/q194: re-banded pair read and retrained kNN keep the index plan guarantees") {
    // threshold migration and quantizer retrain each write a NEW
    // generation; its consumers must be plan-indistinguishable from a
    // fresh build — q193's pair join exchange-free over the 32-band
    // table with no text rescan or re-sketch, q194's kNN pruning the
    // retrained partitioned scan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q193_lsh_reband")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString()
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0 && !plan.substring(joinIdx).contains("Exchange hashpartitioning"),
        s"pair self-join must be exchange-free over the re-banded layout:\n$plan")
      assert(!plan.contains("documents.parquet") && !plan.contains("MinHashTokens"),
        s"threshold migration must not re-scan or re-sketch the corpus in the read path:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_q193_b32")
    }
    val knn = SparkEntry.queries("q194_ivf_retrain")(spark, dir)
    knn.collect()
    val kplan = knn.queryExecution.executedPlan.toString()
    assert(kplan.contains("PartitionFilters") && kplan.contains("cent_id"),
      s"kNN over the retrained IVF generation must keep partition pruning:\n$kplan")
  }

  test("q195/q196: IVF cards read ids off the index — vectors never leave their scans") {
    // the occupancy card is one combinable agg over (partition col,
    // id); the freshness card is an ids-only full-outer join — neither
    // may drag the vector column through a shuffle
    val occ = SparkEntry.queries("q195_ivf_occupancy")(spark, dir)
    val oplan = occ.queryExecution.executedPlan.toString()
    assert(!oplan.contains("Join"), s"occupancy needs no join:\n$oplan")
    assert("Exchange hashpartitioning".r.findAllIn(oplan).size <= 1,
      s"one keyed agg at most:\n$oplan")
    val oreads = "ReadSchema: struct<[^>]*>".r.findAllIn(oplan).toList
    assert(oreads.nonEmpty && oreads.forall(!_.contains("cv")),
      s"occupancy must not read the vectors:\n$oreads")
    val fresh = SparkEntry.queries("q196_ivf_freshness")(spark, dir)
    val fplan = fresh.queryExecution.executedPlan.toString()
    assert(fplan.contains("FullOuter"), s"coverage is a full-outer id join:\n$fplan")
    val freads = "ReadSchema: struct<[^>]*>".r.findAllIn(fplan).toList
    assert(freads.nonEmpty &&
        freads.forall(r => !r.contains("cv") && !r.contains("embedding")),
      s"freshness must join ids only:\n$freads")
  }

  test("q175-family: shared pair source reads the persisted index — no signature recompute") {
    // the graph/cluster analyses (q175/q176/q177/q178/q182) all feed
    // from ONE shared persisted LSH index: their pair sub-plan must
    // read the bucketed index table, never re-scan the corpus text or
    // re-run the MinHash kernel (the production write-once
    // amortization — VERDICT r9 item 4)
    val pairs = SparkEntry.sharedDupPairs(spark, dir)
    val plan = pairs.queryExecution.executedPlan.toString()
    assert(!plan.contains("documents.parquet"),
      s"graph-family pairs must read the index, not the corpus text:\n$plan")
    assert(!plan.contains("min_hash_tokens") && !plan.contains("MinHashTokens"),
      s"signatures must come from the index, not be recomputed:\n$plan")
    assert(plan.contains("lsh_idx_shared_"),
      s"pairs must scan the shared index table:\n$plan")
    // memoized: a second call reuses the SAME table (no rebuild)
    val plan2 = SparkEntry.sharedDupPairs(spark, dir)
      .queryExecution.executedPlan.toString()
    val tbl = "lsh_idx_shared_[0-9a-f]+".r.findFirstIn(plan).get
    assert(plan2.contains(tbl), s"second call must reuse $tbl:\n$plan2")
  }

  test("q221 gate: probed IVF join keeps the index as build side — arrivals never shuffle") {
    import org.apache.spark.sql.functions.col
    // the per-micro-batch join plan of StreamingSimilarity.flagNearVectors
    // (batch stand-in: stream-static joins re-plan this shape per trigger)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = tempDir("plan-ivf-q221")
    graft.operators.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx, 8)
    val arrivals = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    val df = graft.streaming.StreamingSimilarity.flagNearVectors(
      arrivals, idx, "vec_id", "embedding", threshold = 0.3, nProbe = 4)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"index side must be the broadcast build side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"gate join degraded to SMJ (arrivals would shuffle every trigger):\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"no shuffle belongs in the per-trigger gate plan:\n$plan")
  }
}
