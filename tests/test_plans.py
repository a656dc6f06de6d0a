"""Plan-shape assertions (SURVEY.md §4): correctness tests prove the
answers match; these prove the PHYSICAL PLAN has the properties the
100 TB design depends on — pushdown reaching the scan, pruned read
schemas, broadcast joins where hinted, no Python worker in pure
relational paths."""

from __future__ import annotations

from molgraphdb_spark.plans.explain import plan_summary
from molgraphdb_spark.queries.relational import (
    filter_project_pushdown,
    q1_pricing_summary,
    q5_nation_revenue,
)
from molgraphdb_spark.queries.text import doc_token_stats


def test_filter_reaches_parquet_scan(spark, sf_dir):
    s = plan_summary(filter_project_pushdown(spark, sf_dir))
    # quantity/discount predicates must be pushed into the scan
    joined = ";".join(s["pushed_filters"])
    assert "l_quantity" in joined and "l_discount" in joined
    # column pruning: only the 5 referenced columns are read
    assert set(s["read_columns"]) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag",
    }
    assert not s["has_python_worker"]


def test_q1_reads_pruned_schema(spark, sf_dir):
    s = plan_summary(q1_pricing_summary(spark, sf_dir))
    assert "l_shipdate" in ";".join(s["pushed_filters"])
    # 7 referenced columns only, out of 11 in lineitem
    assert len(s["read_columns"]) == 7
    # exactly TWO shuffles: partial→final aggregation + final sort
    # (range partitioning); anything more would be a plan regression
    assert s["n_exchanges"] == 2
    assert not s["has_python_worker"]


def test_q5_broadcasts_small_dims(spark, sf_dir):
    s = plan_summary(q5_nation_revenue(spark, sf_dir))
    # supplier, nation, region are explicitly broadcast
    assert s["n_broadcast_joins"] >= 3
    assert not s["has_python_worker"]


def test_text_pipeline_stays_jvm_side(spark, sf_dir):
    # the whole text-analysis path is built-in expressions — a Python
    # worker in this plan would be a regression
    s = plan_summary(doc_token_stats(spark, sf_dir))
    assert not s["has_python_worker"]
    assert s["n_exchanges"] == 0  # per-document scoring must not shuffle


def test_gopher_repetition_map_only(spark, sf_dir):
    # top-bigram count is a sorted-run-length fold per row — the
    # explode+groupBy formulation (two corpus-sized shuffles) must
    # never creep back in. The r11 presentation-sort removal means the
    # WHOLE plan is now exchange-free, not just sort-prefixed.
    from molgraphdb_spark.queries.text import doc_gopher_repetition

    df = doc_gopher_repetition(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert s["n_exchanges"] == 0


#: The map-only transform family: per-doc signature/feature/scrub
#: passes whose 100 TB plan is scan → project/fold (or one Arrow
#: mapInPandas) → output, with ZERO shuffles. The r10 verdict flagged
#: their terminal `.orderBy("doc_id")` presentation sorts as the one
#: avoidable full-corpus range-shuffle left in these pipelines; the
#: sorts are gone and this pin keeps them gone (the driver's value
#: hash is order-insensitive, so the sort bought nothing).
MAP_ONLY_ZERO_EXCHANGE = [
    "doc_line_dedup_ratio",
    "doc_content_filter",
    "doc_pii_redact",
    "doc_chunk_spans",
    # dedup_minhash_signatures moved to the flac-style work-partition
    # contract in r15: _norm_docs round-robins a single-split documents
    # scan so the per-shingle md5 banks parallelize (guide §2.5)
    "mm_chunk_windows",
    "mm_decoded_features",
    "mm_decoded_phash",
    # mm_decoded_png/jpeg moved to the flac-style work-partition
    # contract in r15 (compute-bound decode over a single-split scan)
    "mm_resize_grid",
    "doc_html_extract",
]


def test_decoded_compressed_legs_work_partitioned(spark, sf_dir):
    # r15: the PNG (inflate+unfilter) and JPEG (Huffman+IDCT) legs
    # follow the FLAC precedent — at most ONE RoundRobin exchange on a
    # single-split bench scan, zero Python workers outside the decode
    # pass, skipped entirely on many-split production scans.
    from molgraphdb_spark.registry import all_queries

    q = all_queries()
    for name in ("mm_decoded_png", "mm_decoded_jpeg"):
        s = plan_summary(q[name](spark, sf_dir))
        assert s["n_exchanges"] <= 1, (name, s["n_exchanges"])
        if s["n_exchanges"]:
            assert "roundrobin" in s["plan"].lower(), name
        assert s["plan"].count("MapInPandas (") == 1, name


def test_map_only_family_has_zero_exchanges(spark, sf_dir):
    from molgraphdb_spark.registry import all_queries

    q = all_queries()
    for name in MAP_ONLY_ZERO_EXCHANGE:
        s = plan_summary(q[name](spark, sf_dir))
        assert s["n_exchanges"] == 0, f"{name}: {s['n_exchanges']} exchanges"


def test_decoded_flac_work_partitioned(spark, sf_dir):
    # mm_decoded_flac left MAP_ONLY_ZERO_EXCHANGE deliberately: the
    # Rice bit-loop is compute-bound and the tiny documents scan is ONE
    # split, so the query round-robins by WORK first (the
    # dedup_embedding_cosine rule) — exactly ONE RoundRobin exchange,
    # and still zero Python workers outside the decode pass itself.
    # On a many-split production scan the gate skips the shuffle.
    from molgraphdb_spark.registry import all_queries

    s = plan_summary(all_queries()["mm_decoded_flac"](spark, sf_dir))
    assert s["n_exchanges"] <= 1, s["n_exchanges"]
    assert "roundrobin" in s["plan"].lower()


def test_anomaly_outliers_single_user_shuffle(spark, sf_dir):
    # three window aggregates must ride ONE user_id exchange (plus the
    # final orderBy); a python worker or extra shuffle is a regression
    from molgraphdb_spark.queries.temporal import events_anomaly_outliers

    s = plan_summary(events_anomaly_outliers(spark, sf_dir))
    assert not s["has_python_worker"]
    assert s["n_exchanges"] <= 2


def test_embedding_lsh_dedup_no_cartesian(spark, sf_dir):
    # candidate generation is an equi-join on the sign bucket — an n^2
    # CartesianProduct anywhere defeats the query's purpose
    from molgraphdb_spark.queries.similarity import dedup_embedding_lsh

    s = plan_summary(dedup_embedding_lsh(spark, sf_dir))
    assert "CartesianProduct" not in s["plan"]
    assert not s["has_python_worker"]


def test_minhash_signatures_map_only(spark, sf_dir):
    # Signature computation folds over the shingle array per row — no
    # Exchange beyond _norm_docs' single-split work repartition (r15:
    # the per-shingle md5 banks ran in ONE task on the bench-scale
    # single-file documents scan; the flac-style contract — at most one
    # RoundRobin exchange, skipped on many-split production scans).
    from molgraphdb_spark.queries.dedup import _sig_df

    s = plan_summary(_sig_df(spark, sf_dir))
    assert s["n_exchanges"] <= 1
    if s["n_exchanges"]:
        assert "roundrobin" in s["plan"].lower()
    assert not s["has_python_worker"]


def test_lsh_verified_no_cartesian(spark, sf_dir):
    # Candidate generation is a bucket equi-join and verification is an
    # equi-join against the inverted index — an n² CartesianProduct or
    # non-broadcast nested loop anywhere is a scale regression.
    from molgraphdb_spark.queries.dedup import dedup_lsh_verified

    s = plan_summary(dedup_lsh_verified(spark, sf_dir))
    assert "CartesianProduct" not in s["plan"]
    assert not s["has_python_worker"]


def test_dedup_cluster_pair_graph_no_cartesian(spark, sf_dir):
    # The pair-graph derivation feeding CC must stay an equi-join on
    # (band, bucket). (The CC loop itself materializes eagerly, so the
    # full query isn't introspectable as one plan — the pair graph is.)
    from molgraphdb_spark.queries.dedup import dedup_minhash_lsh_pairs

    s = plan_summary(dedup_minhash_lsh_pairs(spark, sf_dir))
    assert "CartesianProduct" not in s["plan"]
    assert not s["has_python_worker"]
    # banding computes every band in one pass + explode and caches the
    # banded relation before the self-join: the corpus parquet appears
    # exactly ONCE in the plan (both join sides read the cache), NOT
    # 2×n_bands times as the per-band-union formulation would
    assert s["n_scans"] == 1, s["n_scans"]


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    # Union-then-window as-of: both inputs shuffle once on the join
    # key for the window sort; no range explosion, no extra exchanges.
    from molgraphdb_spark.queries.temporal import events_asof_join

    s = plan_summary(events_asof_join(spark, sf_dir))
    # one Exchange for the union'd window partitioning (+ at most one
    # for the final orderBy's range partitioning)
    assert s["n_exchanges"] <= 2
    assert not s["has_python_worker"]


def test_q6_all_predicates_pushed(spark, sf_dir):
    from molgraphdb_spark.queries.relational import q6_forecast_revenue

    s = plan_summary(q6_forecast_revenue(spark, sf_dir))
    joined = ";".join(s["pushed_filters"])
    assert "l_shipdate" in joined and "l_discount" in joined and "l_quantity" in joined
    # 4-column read out of 11 (shipdate, discount, quantity, extendedprice)
    assert len(s["read_columns"]) == 4
    assert not s["has_python_worker"]


def test_q10_broadcasts_dims_single_shuffle(spark, sf_dir):
    from molgraphdb_spark.queries.relational import q10_returned_items

    s = plan_summary(q10_returned_items(spark, sf_dir))
    # nation explicitly broadcast; AQE broadcasts the filtered orders
    # and customer sides too on this data — at minimum the hint holds
    assert s["n_broadcast_joins"] >= 1
    # returnflag + both date bounds pushed to the scans
    joined = ";".join(s["pushed_filters"])
    assert "l_returnflag" in joined and "o_orderdate" in joined
    assert not s["has_python_worker"]


def test_q18_preagg_broadcast(spark, sf_dir):
    from molgraphdb_spark.queries.relational import q18_large_orders

    s = plan_summary(q18_large_orders(spark, sf_dir))
    # the HAVING-filtered order set must reach the detail join as a
    # broadcast, not a shuffle of orders
    assert s["n_broadcast_joins"] >= 1
    assert not s["has_python_worker"]


def test_content_filter_map_only(spark, sf_dir):
    from molgraphdb_spark.queries.text import doc_content_filter

    s = plan_summary(doc_content_filter(spark, sf_dir))
    assert not s["has_python_worker"]
    # per-doc regex scoring shuffles only for the final presentation sort
    assert s["n_exchanges"] <= 1


def test_decontam_broadcasts_eval_side(spark, sf_dir):
    from molgraphdb_spark.queries.text import doc_decontaminate_overlap

    s = plan_summary(doc_decontaminate_overlap(spark, sf_dir))
    # the tiny eval split must broadcast; the train-side gram explode
    # must never hit a cartesian/shuffled join against it
    assert s["n_broadcast_joins"] >= 1
    assert not s["has_python_worker"]


def test_q8_dim_tree_broadcasts(spark, sf_dir):
    """q8's 8-table tree: every dim (part/supplier/nation/region/
    customer-region semi filter) must broadcast — only the
    lineitem⋈orders fact-fact join may shuffle."""
    from molgraphdb_spark.queries.tpch_rest import q8_market_share

    s = plan_summary(q8_market_share(spark, sf_dir))
    assert s["n_broadcast_joins"] >= 3
    joined = ";".join(s["pushed_filters"])
    assert "o_orderdate" in joined  # date bounds reach the orders scan
    assert not s["has_python_worker"]


def test_q21_semi_anti_over_same_relation(spark, sf_dir):
    """q21's EXISTS + NOT EXISTS: the region-filtered supplier dim
    broadcasts; the pair/late relations join on orderkey (no
    cartesian)."""
    from molgraphdb_spark.queries.tpch_rest import q21_waiting_suppliers

    s = plan_summary(q21_waiting_suppliers(spark, sf_dir))
    assert s["n_broadcast_joins"] >= 1
    assert "CartesianProduct" not in s["plan"]
    assert not s["has_python_worker"]


def test_q17_decorrelated_avg_broadcasts(spark, sf_dir):
    """q17's correlated per-part AVG must decorrelate to a broadcast
    aggregate join, not a per-row subquery or shuffled join."""
    from molgraphdb_spark.queries.tpch_rest import q17_small_qty_revenue

    s = plan_summary(q17_small_qty_revenue(spark, sf_dir))
    assert s["n_broadcast_joins"] >= 2  # part filter + per-part avg
    assert not s["has_python_worker"]


def test_mixture_sample_is_map_only_over_docs(spark, sf_dir):
    """The sampling filter must be map-only over documents: rates are
    a broadcast of |langs| rows; the corpus never shuffles to be
    sampled (the final per-lang report agg is the only exchange
    beyond the count aggs)."""
    from molgraphdb_spark.queries.mixing import doc_mixture_sample

    s = plan_summary(doc_mixture_sample(spark, sf_dir))
    # corpus ⋈ rates is a broadcast hash join (docs side never
    # shuffles to be sampled); the 1-row target joins in as a
    # broadcast nested-loop cross
    assert s["n_broadcast_joins"] >= 1
    assert "BroadcastNestedLoopJoin Cross" in s["plan"]
    assert not s["has_python_worker"]


def test_pack_offsets_no_per_source_funnel(spark, sf_dir):
    """Packing must parallelize BELOW source granularity (round 7):
    sources are few and corpus-growing, so a window partitioned by
    source would still sort each source on one task. The grouped
    two-pass operator replaces it — the plan may contain neither a
    partitionless window nor a source-partitioned windowspec."""
    from molgraphdb_spark.plans.explain import formatted_plan, n_partitionless_windows
    from molgraphdb_spark.queries.mixing import doc_pack_offsets

    df = doc_pack_offsets(spark, sf_dir)
    assert n_partitionless_windows(df) == 0
    assert "windowspecdefinition(source#" not in formatted_plan(df)
    assert not plan_summary(df)["has_python_worker"]


def test_repetition_suite_map_only(spark, sf_dir):
    # top-3/4-gram shares and the dup-5-gram char share are per-row
    # sorted-run folds — the explode+groupBy formulation (three
    # corpus-sized shuffles) must never creep back in; allowed: the
    # round-robin scan repartition (single-split funnel fix) and the
    # final orderBy's range exchange.
    from molgraphdb_spark.queries.spans import doc_repetition_suite

    s = plan_summary(doc_repetition_suite(spark, sf_dir))
    assert s["n_exchanges"] <= 2
    assert "RoundRobinPartitioning" in s["plan"]
    assert not s["has_python_worker"]


def test_dup_span_stats_linear_no_cartesian(spark, sf_dir):
    # substring-level dedup must stay linear: window groupBy, a semi
    # join back, per-doc lag coverage, doc join — never a pairwise
    # expansion (the suffix-array paper's n² alternative) and never a
    # Python worker.
    from molgraphdb_spark.queries.spans import doc_dup_span_stats

    s = plan_summary(doc_dup_span_stats(spark, sf_dir))
    assert "CartesianProduct" not in s["plan"]
    assert not s["has_python_worker"]
    assert s["n_exchanges"] <= 6


def test_bpe_pairs_dictionary_resolve(spark, sf_dir):
    # corpus tokens must cross exactly ONE shuffle (into the word
    # dictionary); pair expansion runs on the dictionary, the pair
    # groupBy key space is <= alphabet^2, and the top-k is a
    # TakeOrdered — no python worker anywhere
    from molgraphdb_spark.queries.text import vocab_bpe_merge_pairs

    s = plan_summary(vocab_bpe_merge_pairs(spark, sf_dir))
    assert not s["has_python_worker"]
    # word-dict exchange + pair exchange; TakeOrderedAndProject adds none
    assert s["n_exchanges"] <= 2


def test_phash_neardup_no_cartesian(spark, sf_dir):
    # candidates come from the band equi-join — an n^2 CartesianProduct
    # anywhere defeats the pigeonhole design. The distinct-signature
    # groups relation is eagerly localCheckpoint-ed (the r6 exact-dup
    # collapse), so every downstream reference must read the
    # materialized RDD — and the mapInPandas signature pass must NOT
    # appear in the final plan at all (it ran exactly once, at
    # checkpoint time; a MapInPandas node here would mean the byte
    # featurization re-executes per reference).
    from molgraphdb_spark.queries.multimodal_queries import mm_phash_neardup

    s = plan_summary(mm_phash_neardup(spark, sf_dir))
    assert "CartesianProduct" not in s["plan"]
    assert s["plan"].count("Scan ExistingRDD") >= 2
    assert "MapInPandas" not in s["plan"]


def test_bigram_logprob_no_python_worker(spark, sf_dir):
    from molgraphdb_spark.queries.text import doc_bigram_logprob

    s = plan_summary(doc_bigram_logprob(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]


def test_pq_code_stats_map_only_encode(spark, sf_dir):
    # codebooks are driver-side literals (IVF precedent): the encode is
    # a map-only projection — the only exchanges are the tiny ≤M·K-key
    # histogram aggregation and the presentation sort, and no Python
    # worker anywhere (array_min folds run in the JVM)
    from molgraphdb_spark.queries.similarity import pq_code_stats

    s = plan_summary(pq_code_stats(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert s["n_exchanges"] <= 2


def test_source_lang_entropy_single_corpus_shuffle(spark, sf_dir):
    # (source, lang) partial agg, broadcast totals join, tiny final
    # agg + sort: the corpus itself crosses exactly one exchange
    from molgraphdb_spark.queries.mixing import source_lang_entropy

    s = plan_summary(source_lang_entropy(spark, sf_dir))
    assert not s["has_python_worker"]
    assert s["n_broadcast_joins"] >= 1
    assert "lang" in ";".join(s["read_columns"]) and len(s["read_columns"]) == 2


def test_bpe_compression_stays_jvm_side(spark, sf_dir):
    # training ran at plan-build time; the returned plan is the
    # dictionary segmentation + one-row agg — no Python worker, no
    # cartesian, and the scan reads only the text column
    from molgraphdb_spark.queries.text import vocab_bpe_compression

    s = plan_summary(vocab_bpe_compression(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]


def test_pq_topk_adc_broadcast_no_python(spark, sf_dir):
    # codes are a map-only projection; the per-query LUT relation is
    # BROADCAST against the code table (never the reverse); ADC is a
    # JVM-side zip_with fold — no Python worker, and no unbroadcast
    # CartesianProduct over the corpus
    from molgraphdb_spark.queries.similarity import similarity_pq_topk

    s = plan_summary(similarity_pq_topk(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    # 4-row LUT × corpus arrives as a broadcast nested-loop (no equi
    # key), which is the broadcast we want — the corpus side never moves
    assert "BroadcastNestedLoopJoin" in s["plan"]


def test_supplier_jaccard_broadcast_degrees(spark, sf_dir):
    # shared counts ride the customer-keyed inverted-index join; the
    # per-supplier degree relation (one row per supplier) must come in
    # as broadcast joins, not shuffle the pair stream
    from molgraphdb_spark.queries.graph_queries import graph_supplier_jaccard

    s = plan_summary(graph_supplier_jaccard(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert s["n_broadcast_joins"] >= 2
    assert "TakeOrderedAndProject" in s["plan"]


def test_dedup_rate_by_source_pruned_scan(spark, sf_dir):
    # the corpus crosses one (source, hash) aggregation; the scan must
    # read only (source, text) — payload-width pruning is what keeps
    # this cheap on a 100 TB documents table
    from molgraphdb_spark.queries.dedup import dedup_rate_by_source

    s = plan_summary(dedup_rate_by_source(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    cols = ";".join(s["read_columns"])
    assert "source" in cols and "text" in cols and len(s["read_columns"]) <= 2


def test_events_ewma_no_per_type_funnel(spark, sf_dir):
    # round 8: frames come from the segmented scan (ranking.py
    # with_group_rows_frame) — no partitionless window, no windowspec
    # partitioned by event_type ALONE (the per-type funnel): the only
    # type-keyed window must also carry the bounded _fr_seg segment
    # key, so partitions are segment-sized, never group-sized. No
    # Python worker, no cartesian, no join for the frames at all.
    import re

    from molgraphdb_spark.plans.explain import formatted_plan, n_partitionless_windows
    from molgraphdb_spark.queries.temporal import events_ewma

    df = events_ewma(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert n_partitionless_windows(df) == 0
    plan = formatted_plan(df)
    type_windows = re.findall(r"windowspecdefinition\(event_type#\d+[^)]*", plan)
    assert type_windows, "expected the segmented (type, seg) window"
    assert all("_fr_seg" in w for w in type_windows), type_windows
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pq_recall_rerank_bounded(spark, sf_dir):
    # both the ADC side and the exact baseline broadcast the tiny
    # query relation; the rerank join touches only Q×shortlist rows —
    # no Python worker, no unbroadcast cartesian over the corpus
    from molgraphdb_spark.queries.similarity import similarity_pq_recall

    s = plan_summary(similarity_pq_recall(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" in s["plan"]


def test_bloom_prefilter_prunes_before_join(spark, sf_dir):
    # the bitmap predicate must sit on the probe side BELOW the exact
    # join (xxhash64 filter in the plan), with the dim side broadcast
    from molgraphdb_spark.queries.relational import orders_bloom_prefilter

    s = plan_summary(orders_bloom_prefilter(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "xxhash64" in s["plan"]
    assert s["n_broadcast_joins"] >= 1


def test_skyline_no_quadratic_join(spark, sf_dir):
    # the window formulation must NOT contain the oracle's NOT EXISTS
    # self-join shape: one broadcast semi-reduction + one sort window
    from molgraphdb_spark.queries.relational import parts_skyline

    s = plan_summary(parts_skyline(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    assert s["n_sortmerge_joins"] == 0
    assert "Window" in s["plan"]


def test_label_outliers_broadcast_centroids(spark, sf_dir):
    # the |labels|-row centroid relation joins back as a broadcast —
    # the corpus never shuffles for the scoring pass
    from molgraphdb_spark.queries.similarity import embedding_label_outliers

    s = plan_summary(embedding_label_outliers(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert s["n_broadcast_joins"] >= 1


def test_token_budget_no_per_source_funnel(spark, sf_dir):
    # round 7: the per-source ranked running sum goes through the
    # grouped two-pass operator — no source-partitioned window (a
    # dominant source must never serialize on one task), no python
    # worker, no cartesian
    from molgraphdb_spark.plans.explain import formatted_plan, n_partitionless_windows
    from molgraphdb_spark.queries.mixing import source_token_budget

    df = source_token_budget(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert n_partitionless_windows(df) == 0
    assert "windowspecdefinition(source#" not in formatted_plan(df)


def test_stratified_sample_group_limit_pushdown(spark, sf_dir):
    # the per-stratum rank<=k filter must compile to WindowGroupLimit
    # with a map-side partial stage (2 nodes) — each task then holds at
    # most k rows per stratum before the shuffle, which is why this
    # per-group window is NOT the buffering funnel the r7 sweep
    # removed elsewhere
    from molgraphdb_spark.plans.explain import formatted_plan
    from molgraphdb_spark.queries.reshape import sample_stratified_docs

    p = formatted_plan(sample_stratified_docs(spark, sf_dir))
    assert p.count(") WindowGroupLimit") >= 2


def test_bm25_topk_scale_shape(spark, sf_dir):
    # BM25 retrieval: corpus constants fold at build time (one bounded
    # .first()), so the FINAL plan scans documents exactly once against
    # the broadcast term list (BroadcastNestedLoopJoin — 9 terms, a
    # bounded row blowup), stays JVM-side, and the per-query top-10
    # compiles to map-side WindowGroupLimit so no query group ever
    # buffers the corpus on one task
    from molgraphdb_spark.plans.explain import formatted_plan
    from molgraphdb_spark.queries.text import doc_bm25_topk

    df = doc_bm25_topk(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert s["n_scans"] == 1
    assert set(s["read_columns"]) == {"doc_id", "text"}
    p = formatted_plan(df)
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_embedding_cosine_dedup_stream_side_parallel(spark, sf_dir):
    # the quadratic baseline's stream side must be round-robin
    # repartitioned: the embeddings table is tiny in BYTES (one scan
    # split) but the BNLJ's work is quadratic in ROWS — without the
    # exchange every cosine fold runs in ONE task (measured 30-43 s at
    # sf0.1; 1.8 s repartitioned)
    from molgraphdb_spark.plans.explain import formatted_plan
    from molgraphdb_spark.queries.similarity import dedup_embedding_cosine

    p = formatted_plan(dedup_embedding_cosine(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "RoundRobinPartitioning" in p  # formatted mode: Arguments line


def test_collocation_pmi_scale_shape(spark, sf_dir):
    # r9: corpus totals came from a bounded pre-collect (2 longs), so
    # the final plan has NO driver-feeding aggregate; unigram counts
    # localCheckpoint once (Scan ExistingRDD) and join the floored
    # bigram relation — vocabulary-keyed shuffle joins, nothing
    # broadcast-nested-loop, no Python worker; the scans read only
    # text.
    from molgraphdb_spark.queries.text import doc_collocation_pmi

    df = doc_collocation_pmi(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    assert set(s["read_columns"]) <= {"text"}
    assert "Scan ExistingRDD" in s["plan"]  # the checkpointed dictionary
    assert "TakeOrderedAndProject" in s["plan"]  # top-20, no global sort


def test_sorted_neighborhood_scale_shape(spark, sf_dir):
    # r9: the rank is the two-pass distributed rank (bucket-keyed
    # window — never partitionless) and the pairing is ONE equi-join
    # on the block key; levenshtein stays in codegen (no Python).
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.linkage import fuzzy_name_sorted_neighborhood

    df = fuzzy_name_sorted_neighborhood(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert n_partitionless_windows(df) == 0
    assert set(s["read_columns"]) <= {"p_name"}


def test_triangle_count_dispatch_plan_shapes(spark, sf_dir):
    # r9: under the vertex ceiling both adjacency joins broadcast; past
    # it neither does — the co-partition path must show shuffle joins
    # (shuffle-hash or sort-merge), no broadcast of the adjacency.
    from molgraphdb_spark.operators.graph import triangle_count

    proj = (
        spark.range(500)
        .selectExpr("id as x", "id + 1 as y")
        .localCheckpoint()
    )
    sb = plan_summary(triangle_count(proj, n_vertices=501, materialized=True))
    assert sb["n_broadcast_joins"] >= 2
    sc = plan_summary(
        triangle_count(
            proj, n_vertices=501, broadcast_max_vertices=10, materialized=True
        )
    )
    assert sc["n_broadcast_joins"] == 0
    assert "ShuffledHashJoin" in sc["plan"] or "SortMergeJoin" in sc["plan"]


def test_dsir_selection_scale_shape(spark, sf_dir):
    # r9b: the λ-model is a DSIR_DIMS-row broadcast (never a shuffle
    # join against the occurrence stream); corpus totals and the
    # ranking offsets rode bounded collects at plan-build time, so the
    # final plan has no driver-feeding aggregate; the feature fold is
    # JVM-side (no Python worker); ranking is the two-pass operator
    # (bucket-keyed window, never partitionless).
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.text import doc_dsir_selection

    df = doc_dsir_selection(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    # the scoring joins ran at the ranking operator's checkpoint; the
    # final plan is the rollup over the checkpointed ranked relation
    assert "Scan ExistingRDD" in s["plan"]
    assert n_partitionless_windows(df) == 0


def test_perplexity_buckets_scale_shape(spark, sf_dir):
    # r9b: the per-language model localCheckpoints once (Scan
    # ExistingRDD — referenced by totals AND the score join); language
    # totals broadcast (≤|langs| rows); the per-language thirds come
    # from the grouped two-pass ranking operator, so no partitionless
    # OR lang-partitioned window funnels the corpus.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.text import doc_perplexity_buckets

    df = doc_perplexity_buckets(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    assert "Scan ExistingRDD" in s["plan"]  # the checkpointed model
    assert n_partitionless_windows(df) == 0
    assert set(s["read_columns"]) <= {"doc_id", "text", "lang"}


def test_label_propagation_scale_shape(spark, sf_dir):
    # r9b: each LPA round is one join + two map-side-combinable
    # groupBys; lineage is cut on the pagerank cadence, so the final
    # plan is the rollup over the checkpointed label relation — no
    # window at all, no Python worker, no cross join.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.graph_queries import graph_label_propagation

    df = graph_label_propagation(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    assert "Scan ExistingRDD" in s["plan"]  # the checkpointed labels
    assert n_partitionless_windows(df) == 0


def test_chunk_spans_map_only(spark, sf_dir):
    # r9b: tokenize → sequence → explode → slice → md5 all inside
    # whole-stage codegen; the only exchange is the presentation sort.
    from molgraphdb_spark.queries.text import doc_chunk_spans

    s = plan_summary(doc_chunk_spans(spark, sf_dir))
    assert not s["has_python_worker"]
    assert s["n_exchanges"] <= 1
    assert set(s["read_columns"]) <= {"doc_id", "text"}


def test_cdc_chunks_scale_shape(spark, sf_dir):
    # r9b: posexplode map-side; the boundary count is a doc-keyed
    # window (millions of SMALL groups — already parallel; the grouped
    # two-pass operator is for few-and-huge groups); rollup groups on
    # (doc_id, chunk_ix). Doc-keyed exchanges only, no Python worker.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.text import doc_cdc_chunks

    s = plan_summary(doc_cdc_chunks(spark, sf_dir))
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert n_partitionless_windows(doc_cdc_chunks(spark, sf_dir)) == 0
    assert set(s["read_columns"]) <= {"doc_id", "text"}


def test_cusum_scale_shape(spark, sf_dir):
    # r9b: both running statistics ride the two-pass operators
    # (bucket-keyed windows only), so the final plan is the per-type
    # rollup over the checkpointed scan relation — no partitionless
    # window, no type-partitioned window funnel, no Python worker.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.temporal import events_cusum_alarms

    df = events_cusum_alarms(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "Scan ExistingRDD" in s["plan"]  # the checkpointed passes
    assert n_partitionless_windows(df) == 0


def test_hard_negatives_scale_shape(spark, sf_dir):
    # r9b: BOTH triplet legs ride ONE groupBy with conditional
    # aggregates over the (guarded) quadratic pair stream — the pair
    # relation is never materialized and there is no outer join; the
    # stream side is round-robin repartitioned (the single-split
    # funnel rule) and the whole plan has no window and no Python.
    from molgraphdb_spark.plans.explain import (
        formatted_plan,
        n_partitionless_windows,
    )
    from molgraphdb_spark.queries.similarity import embedding_hard_negatives

    df = embedding_hard_negatives(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "BroadcastNestedLoopJoin" in s["plan"]  # the guarded pairs, live
    p = formatted_plan(df)
    assert "RoundRobinPartitioning" in p  # work-partitioned stream side
    assert n_partitionless_windows(df) == 0


def test_multipass_sn_scale_shape(spark, sf_dir):
    # r10: two segmented-scan pairings (each bucket-keyed, never
    # partitionless), unioned through one pair-key groupBy; the single
    # levenshtein verify stays in codegen — no Python, no cartesian.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.linkage import fuzzy_name_multipass

    df = fuzzy_name_multipass(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert n_partitionless_windows(df) == 0
    assert set(s["read_columns"]) <= {"p_name"}


def test_hard_negatives_ann_scale_shape(spark, sf_dir):
    # r10: the ANN twin replaces the exact twin's guarded
    # BroadcastNestedLoopJoin with centroid-literal map-only stages and
    # ONE cid equi-join — no BNLJ, no cartesian, no window (the probe
    # selection is an array sort, not a rank), no Python.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.similarity import embedding_hard_negatives_ann

    df = embedding_hard_negatives_ann(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]  # the exact twin's shape, gone
    assert n_partitionless_windows(df) == 0


def test_decoded_features_scale_shape(spark, sf_dir):
    # r10: one mapInPandas pass (the justified Python boundary: byte →
    # media decode) over a pruned (doc_id, payload) projection —
    # metadata-only modality filter, no join, no window.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.multimodal_queries import mm_decoded_features

    df = mm_decoded_features(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]  # no row-at-a-time Eval nodes
    # tree form counts each node once (details re-list it as "(n) Map…")
    assert s["plan"].count("MapInPandas (") == 1  # the one Arrow decode pass
    assert "Join" not in s["plan"]
    assert n_partitionless_windows(df) == 0
    assert set(s["read_columns"]) <= {"doc_id", "text"}


def test_decoded_phash_scale_shape(spark, sf_dir):
    # r10: decode + luminance dHash in the one Arrow pass; map-only
    # aside from the presentation sort, pruned (doc_id, text) read.
    from molgraphdb_spark.plans.explain import n_partitionless_windows
    from molgraphdb_spark.queries.multimodal_queries import mm_decoded_phash

    df = mm_decoded_phash(spark, sf_dir)
    s = plan_summary(df)
    assert not s["has_python_worker"]
    assert s["plan"].count("MapInPandas (") == 1
    assert "Join" not in s["plan"]
    assert n_partitionless_windows(df) == 0
    assert set(s["read_columns"]) <= {"doc_id", "text"}


def test_no_duplicated_fold_in_filters(spark, sf_dir):
    # r14 optimization pin: the optimizer must not re-evaluate the
    # heavy per-row vector folds inside inferred Filter predicates.
    # Two mechanisms were closed: (1) equi-joins on a fold-derived cid
    # inferred isnotnull(cid) and inlined the whole K-centroid argmin
    # below the projection — closed by the coalesce non-nullability
    # barrier in ivf._assign_literal / kmeans.assign_cells[_ubp];
    # (2) explode()/posexplode() of a computed fixed-length array
    # inferred size(...)>0 the same way — closed by stack() unpivots
    # (pq_code_stats, embedding_hard_negatives_ann). A Filter whose
    # condition contains an array fold (aggregate/array_min over the
    # centroid literal) on a CORPUS-sized relation means one of the
    # barriers regressed.
    import re

    from molgraphdb_spark.queries.similarity import (
        embedding_hard_negatives_ann,
        pq_code_stats,
        similarity_ivf_topk,
        similarity_ivfpq_topk,
    )

    for fn in (
        pq_code_stats,
        similarity_ivfpq_topk,
        embedding_hard_negatives_ann,
        similarity_ivf_topk,
    ):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for cond in re.findall(r"Filter (.*)", plan):
            # the query-side probe filter (Q bounded rows) is exempt:
            # it carries the vec_id range predicate. Anchored to the
            # exact predicate text (r14 ADVICE: a substring match on
            # '>= 100' / '< 5' could exempt a regressed corpus-side
            # fold whose condition merely mentions vec_id plus an
            # unrelated numeric literal).
            if re.search(r"vec_id#\d+L? (?:>= 100|< 5)\b", cond):
                continue
            assert "array_min(transform(" not in cond, (fn.__name__, cond[:400])
            assert "aggregate([[" not in cond, (fn.__name__, cond[:400])


def test_assign_cid_statically_non_nullable(spark):
    # The coalesce barrier's contract: cid comes out non-nullable (no
    # inferred isnotnull filter downstream) and the sentinel never
    # fires on real rows.
    from molgraphdb_spark.operators.ivf import assign_cells_cos_ubp
    from molgraphdb_spark.operators.kmeans import assign_cells, assign_cells_ubp

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])], "id long, v array<double>"
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    for out in (
        assign_cells_cos_ubp(df, "v", cents),
        assign_cells(df, "v", cents),
        assign_cells_ubp(df, "v", cents),
    ):
        field = out.schema["cid"]
        assert not field.nullable, field
        cids = [r["cid"] for r in out.orderBy("id").collect()]
        assert cids == [0, 1, 0], cids  # tie at row 2 breaks to lowest cid


def test_plan_summary_flags_pickled_local_collections(spark):
    # local_rdd marks a Scan ExistingRDD over createDataFrame(list);
    # local_df frames and checkpointed RDD scans are not flagged
    from molgraphdb_spark.functions.literals import local_df

    pickled = spark.createDataFrame([("a", 1)], "s string, n int")
    assert plan_summary(pickled)["local_rdd"]
    assert plan_summary(pickled.crossJoin(spark.range(3).localCheckpoint()))["local_rdd"]
    assert not plan_summary(local_df(spark, [("a", 1)], "s string, n int"))["local_rdd"]
    assert not plan_summary(pickled.localCheckpoint())["local_rdd"]
