"""Scale-property assertions on physical plans (SURVEY §4): these
lock in the shuffle/scan/broadcast shape of the core operators so a
refactor that silently doubles scans or drops a broadcast fails CI."""

import pyspark.sql.functions as F
import pytest

from demv_spark.functions import counting, metrics as M
from demv_spark.operators import etl, similarity
from demv_spark.operators.balancer import DEMV
from demv_spark.plans.introspect import plan_stats
from demv_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return read_table(spark, SF, "orders")


def test_group_weights_single_scan(orders):
    s = plan_stats(counting.group_weights(orders, ["o_orderpriority"], "o_orderstatus", None))
    assert len(s["read_schemas"]) == 1, "marginals must not re-scan the base table"
    assert s["n_exchanges"] <= 4
    assert not s["has_python_udf"]


def test_fairness_suite_single_pass(orders):
    s = plan_stats(
        M.fairness_suite(
            orders.withColumn("y_true", F.col("o_orderstatus")).withColumn("y_pred", F.lit("F")),
            F.col("o_orderpriority") == "5-LOW",
            F.col("o_totalprice") > 0,
            F.col("o_orderstatus") == "F",
            "y_true", "y_pred",
        )
    )
    assert len(s["read_schemas"]) == 1          # all 12 counts in one scan
    assert s["n_exchanges"] <= 2                # partial+final agg only
    # only needed columns reach the scan
    assert all("o_orderkey" not in rs for rs in s["read_schemas"])


def test_rebalance_plan_broadcast_and_single_scan(orders):
    tbl = orders.select(
        (F.col("o_orderpriority") == "5-LOW").cast("int").alias("s"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
        "o_orderkey",
    )
    d = DEMV(["s"], label="y", seed=1)
    d.fit(tbl)
    s = plan_stats(d.transform(tbl))
    assert len(s["read_schemas"]) == 1
    assert s["n_broadcasts"] >= 1               # target map is broadcast
    assert s["n_sort_merge_joins"] == 0


def test_cosine_topk_broadcasts_queries(spark):
    emb = read_table(spark, SF, "embeddings")
    s = plan_stats(
        similarity.cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 3), emb, k=5)
    )
    assert s["n_broadcasts"] >= 1               # query side broadcast, corpus never shuffled for the join
    assert any("LessThan(vec_id,3)" in p for p in s["pushed_filters"])


def test_zscore_output_plan_is_map_only(orders):
    s = plan_stats(etl.zscore(orders.select("o_orderkey", "o_totalprice"), ["o_totalprice"]))
    # μ/σ are computed by a separate 1-row aggregate job and injected
    # as literals, so the OUTPUT plan is a single scan with per-row
    # arithmetic: no join, no shuffle, no window-over-all
    assert len(s["read_schemas"]) == 1
    assert s["n_broadcasts"] == 0
    assert s["n_sort_merge_joins"] == 0
    # the only exchange allowed is read_table's round-robin spread;
    # zscore itself must not add one
    assert s["n_exchanges"] <= 1


def test_label_encode_broadcasts_codes(spark):
    cust = read_table(spark, SF, "customer")
    s = plan_stats(etl.label_encode(cust, "c_mktsegment"))
    assert s["n_broadcasts"] >= 1
    assert s["n_sort_merge_joins"] == 0


def test_fairness_by_group_single_scan(orders):
    from demv_spark.functions import metrics as M
    import pyspark.sql.functions as F

    s = plan_stats(
        M.fairness_by_group(
            orders.withColumn("m", (F.col("o_custkey") % 3).cast("int")),
            ["o_orderpriority", "m"],
            F.col("o_totalprice") > 250000,
            F.col("o_orderstatus") == "F",
        )
    )
    assert len(s["read_schemas"]) == 1, "per-group view must not re-scan per group"
    assert not s["has_python_udf"]


def test_avg_odds_single_scan_short_dag(spark):
    ev = read_table(spark, SF, "events")
    df = M.average_odds_difference(
        ev.select((F.col("user_id") % 2 == 1).alias("g"),
                  F.col("event_type").alias("yt"),
                  F.col("event_type").alias("yp")),
        F.col("g"), "yt", "yp",
    )
    s = plan_stats(df)
    assert len(s["read_schemas"]) == 1, "one cube scan only"
    # cube agg + contribution agg + window + final agg — the old
    # full-outer-join form needed 7+
    assert s["n_exchanges"] <= 5
    assert s["n_sort_merge_joins"] == 0, "no joins on the tiny cube"


def test_ngram_jaccard_no_self_join(spark):
    from demv_spark.operators import dedup

    docs = read_table(spark, SF, "documents")
    df = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.1, max_df=50)
    s = plan_stats(df)
    # inverted-index form: sizes joins are the ONLY joins; the pair
    # source is a posting-list explode, not a shingle self-join
    # (the old self-join form measured 22 exchanges)
    assert s["n_exchanges"] <= 10
    assert not s["has_python_udf"]


def test_stratified_sample_single_window_exchange(orders):
    from demv_spark.operators.etl import stratified_sample

    df = stratified_sample(orders, ["o_orderpriority"], 0.1, ["o_orderkey"])
    s = plan_stats(df)
    # rank + per-stratum count share ONE hash partitioning; the
    # second exchange is read_table's under-split round-robin spread
    assert s["n_exchanges"] <= 2
    assert len(s["read_schemas"]) == 1


def test_quantile_label_default_has_no_global_ntile(orders):
    """VERDICT r5: the benched/default quantile-label plan must be the
    range-bucketed exact path, not the single-task global NTILE. The
    bucketed plan computes the tile arithmetically, so a literal
    ntile() window in the physical plan proves the scale-killer plan
    leaked back in."""
    from demv_spark.plans.introspect import explain_str

    df = etl.quantile_label(
        orders, "o_totalprice", 5, out="y", tiebreak=["o_orderkey"]
    ).select("o_orderkey", "y")
    import re

    plan = explain_str(df, "simple")
    # \b alone is wrong: percentile_approx(...) contains 'ntile'
    assert not re.search(r"(?<![a-zA-Z_])ntile\(", plan)
    # the only windows are partitioned per range bucket (__b) or run
    # over the |range_buckets|-row offsets table — never an
    # unpartitioned window over the data table followed by the scan
    s = plan_stats(df)
    assert not s["has_python_udf"]


def test_adult_recipe_one_exchange_two_scans(spark):
    """The full adult recipe (filter + 2 binnings + 7 dummy blocks +
    3 encodes) must stay ONE fused domain-discovery aggregate plus one
    main pass — per-column distincts would re-scan the lineage 8x."""
    from demv_spark.sources import recipes as R

    orders = read_table(spark, SF, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    raw = orders.select(
        (c % 90 + 5).cast("int").alias("age"),
        F.lit(" Private").alias("workclass"),
        F.col("o_totalprice").alias("fnlwgt"),
        F.when(k % 2 == 0, " Bachelors").otherwise(" HS-grad").alias("education"),
        (k % 16).cast("int").alias("education-num"),
        F.when(k % 2 == 0, " Married").otherwise(" Single").alias("marital-status"),
        F.lit(" Sales").alias("occupation"),
        F.lit(" Husband").alias("relationship"),
        F.when(c % 2 == 0, " Black").otherwise(" White").alias("race"),
        F.when(k % 2 == 0, " Male").otherwise(" Female").alias("sex"),
        F.lit(0).alias("capital-gain"), F.lit(0).alias("capital-loss"),
        (k % 99 + 1).cast("int").alias("hours-per-week"),
        F.lit(" Cuba").alias("native-country"),
        F.when(k % 2 == 1, " >50K").otherwise(" <=50K").alias("income"),
    )
    s = plan_stats(R.adult(raw))
    assert len(s["read_schemas"]) <= 2
    assert s["n_exchanges"] <= 1
    assert s["n_sort_merge_joins"] == 0
    assert not s["has_python_udf"]


def test_multiclass_quota_plan_broadcast_one_window(spark):
    """Quota assignment: boundary arrays broadcast, ONE ranking window
    — no per-row non-equi join fan-out, no sort-merge join."""
    from demv_spark.operators.postprocess import multiclass_quota_adjust

    orders = read_table(spark, SF, "orders")
    tbl = orders.select(
        "o_orderkey", "o_orderpriority",
        (F.col("o_totalprice") > 150000).cast("int").alias("pred"),
    )
    s = plan_stats(
        multiclass_quota_adjust(tbl, ["o_orderpriority"], "pred", ["pred", "o_orderkey"])
    )
    assert s["n_broadcasts"] >= 1
    assert s["n_sort_merge_joins"] == 0
    assert not s["has_python_udf"]


def test_ivf_fixed_assignment_is_map_side(spark):
    """Fixed-centroid IVF: cell assignment must be a codegen map over
    literal centroid arrays — the corpus is never shuffled to meet a
    centroid table; the only join is the broadcast candidate probe."""
    from demv_spark.operators import similarity as sim

    emb = read_table(spark, SF, "embeddings")
    cents = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect())
    ]
    s = plan_stats(
        sim.ivf_topk_fixed(emb.filter(F.col("vec_id") < 3), emb, cents, k=5, n_probe=2)
    )
    assert s["n_broadcasts"] >= 1
    assert s["n_sort_merge_joins"] == 0
    assert not s["has_python_udf"]


def test_split_and_canon_are_map_only(spark):
    from demv_spark.operators import web
    from demv_spark.operators.corpus import split_by_hash

    docs = read_table(spark, SF, "documents").select(
        "doc_id", F.concat(F.lit("https://"), F.col("source"), F.lit(".com/p")).alias("url")
    )
    s = plan_stats(
        split_by_hash(docs, ["url"], {"train": 0.9, "test": 0.1}).select(
            "doc_id", web.canonicalize_url("url", "canon")
        )
    )
    # both operators are pure column algebra: one scan, no joins, no
    # shuffle beyond read_table's spread, no Python of any kind
    assert len(s["read_schemas"]) == 1
    assert s["n_exchanges"] <= 1
    assert s["n_broadcasts"] == 0
    assert not s["has_python_udf"] and not s["has_arrow_eval"]


def test_cap_per_key_plain_single_window_exchange(spark):
    from demv_spark.operators.corpus import cap_per_key

    docs = read_table(spark, SF, "documents").select("doc_id", "source")
    s = plan_stats(cap_per_key(docs, ["source"], 10, ["doc_id"]))
    # one hash-partition exchange for the per-key ranking window
    assert s["n_exchanges"] <= 2
    assert s["n_sort_merge_joins"] == 0
    assert not s["has_python_udf"] and not s["has_arrow_eval"]


def test_cap_per_key_salted_broadcasts_offsets(spark):
    from demv_spark.operators.corpus import cap_per_key

    docs = read_table(spark, SF, "documents").select("doc_id", "source")
    s = plan_stats(cap_per_key(docs, ["source"], 10, ["doc_id"], skew_salt=4))
    # the offset census must come back as a broadcast, never a
    # sort-merge join against the big table
    assert s["n_broadcasts"] >= 1
    assert s["n_sort_merge_joins"] == 0


def test_auc_exact_broadcasts_offsets_no_smj(orders):
    from demv_spark.functions.metrics import auc_exact

    base = orders.select(
        F.col("o_totalprice").cast("double").alias("score"),
        (F.col("o_totalprice") > 150000).cast("int").alias("y"),
    )
    s = plan_stats(auc_exact(base, "score", "y"))
    # the per-bucket offset census must come back as a broadcast; the
    # distinct-score census must never sort-merge-join the big side
    assert s["n_broadcasts"] >= 1
    assert s["n_sort_merge_joins"] == 0
    assert not s["has_python_udf"] and not s["has_arrow_eval"]


def test_shard_assignment_one_operator_exchange(spark):
    from demv_spark.operators.corpus import shard_assignment

    docs = read_table(spark, SF, "documents").select("doc_id")
    s = plan_stats(shard_assignment(docs, ["doc_id"], 8))
    # reader round-robin + the ONE window shuffle on shard — nothing else
    assert s["n_exchanges"] <= 2
    assert not s["has_python_udf"]


def test_best_match_is_partial_aggregate_not_window(spark):
    from demv_spark.operators.linkage import best_match
    from demv_spark.plans.introspect import explain_str

    pairs = spark.createDataFrame(
        [(1, "a", 2, "b", 1)],
        "pk_a long, name_a string, pk_b long, name_b string, edit_dist int",
    )
    plan = explain_str(best_match(pairs), "simple")
    assert "Window" not in plan, "resolution must be min_by, not a rank window"
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_incremental_admission_no_extra_batch_shuffle(spark):
    from demv_spark.operators.dedup import incremental_admission
    from demv_spark.plans.introspect import explain_str

    store = spark.createDataFrame([("a",)], "fp string")
    batch = spark.createDataFrame([(1, "a")], "doc_id long, fp string")
    out = incremental_admission(batch, store)
    simple = explain_str(out, "simple")
    # the rank window and the store join are both keyed on fp: the
    # batch side must be exchanged AT MOST once (store distinct +
    # its join prep account for the rest)
    s = plan_stats(out)
    assert s["n_exchanges"] <= 3, simple
    assert not s["has_python_udf"]


def test_vocab_coverage_corpus_shuffle_count(spark):
    from demv_spark.operators.text import vocab_coverage

    docs = read_table(spark, SF, "documents")
    s = plan_stats(vocab_coverage(docs, [10, 100]))
    # corpus-scale data crosses ONE shuffle (token counts); every
    # later exchange moves the count census (O(sqrt corpus) rows),
    # its <=64-bucket offsets, or the literal vocab sizes
    assert not s["has_python_udf"]
    assert s["n_broadcasts"] >= 2  # offsets + vocab sizes stay broadcast


def test_bm25_topk_plan_is_take_ordered_not_global_sort(spark):
    """BM25's top-k must compile to TakeOrderedAndProject (bounded
    per-partition heaps + driver merge), never a global Sort; the
    postings filter must be pushed into the token generate; no Python
    UDF anywhere."""
    from demv_spark.operators.text import bm25_topk
    from demv_spark.plans.introspect import explain_str, plan_stats

    df = spark.createDataFrame(
        [(1, "spark table join"), (2, "spark data")],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["spark", "table"], top_k=5)
    plan = explain_str(out, "simple")
    assert "TakeOrderedAndProject" in plan
    # no global Sort node outside the TakeOrdered operator
    import re

    assert not re.search(r"\n\s*\+?-?\s*Sort \[", plan)
    assert "token" in plan and " IN (spark,table)" in plan.replace("'", "")
    assert not plan_stats(out)["has_python_udf"]


def test_bm25_batch_windows_are_salt_partitioned(spark):
    """The per-query rank must run inside (query_id, salt) and
    query_id partitions — never an unpartitioned window."""
    from demv_spark.operators.text import bm25_topk_batch
    from demv_spark.plans.introspect import explain_str

    df = spark.createDataFrame(
        [(1, "spark table"), (2, "data")], "doc_id long, text string"
    )
    out = bm25_topk_batch(df, {"q": ["spark"]}, top_k=3)
    plan = explain_str(out, "simple")
    assert "Window" in plan
    # every window spec carries a partition list with query_id
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "query_id" in spec


def test_hamming_near_dup_is_shuffle_equi_join(spark):
    """Candidate generation must be a hash/sort-merge EQUI-join on the
    band key — a nested-loop or cartesian node means the pigeonhole
    banding degenerated to all-pairs."""
    from demv_spark.operators.dedup import hamming_near_dup
    from demv_spark.plans.introspect import explain_str

    df = spark.createDataFrame([(1, 5), (2, 6)], "id long, h long")
    plan = explain_str(hamming_near_dup(df, "id", "h"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_census_single_key_exchange(spark):
    """One shuffle on the partition key; the RANGE frame evaluates in
    the same stage (no extra exchange, no global sort)."""
    import datetime

    from demv_spark.operators.temporal import rolling_census
    from demv_spark.plans.introspect import plan_stats

    df = spark.createDataFrame(
        [(1, 1, datetime.datetime(2026, 1, 1), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    s = plan_stats(rolling_census(df, ["user_id"], "ts", value_col="value"))
    assert s["n_exchanges"] == 1
    assert not s["has_python_udf"]


def test_census_cube_single_aggregation_pass(spark):
    """CUBE expands rows to grouping sets BEFORE one partial-agg
    shuffle — exactly one exchange, no join, no rescan per set."""
    from demv_spark.functions.counting import census_cube
    from demv_spark.plans.introspect import explain_str, plan_stats

    df = spark.createDataFrame([("a", "b", 1.0)], "x string, y string, v double")
    out = census_cube(df, ["x", "y"], unit_col="v")
    s = plan_stats(out)
    assert s["n_exchanges"] == 1
    assert "Expand" in explain_str(out, "simple")


def test_target_encode_broadcasts_census(spark):
    """The category census and global totals join back as broadcasts —
    the big table is never shuffled for the join."""
    from demv_spark.operators.etl import target_encode
    from demv_spark.plans.introspect import plan_stats

    df = spark.createDataFrame([("a", 1)], "cat string, y int")
    s = plan_stats(target_encode(df, "cat", "y"))
    assert s["n_broadcasts"] >= 2
    assert s["n_sort_merge_joins"] == 0


def test_cdc_snapshot_one_key_exchange(spark):
    from demv_spark.operators.cdc import cdc_snapshot

    events = read_table(spark, SF, "events")
    log = events.select(
        "user_id", "ts", "event_id",
        F.lit("insert").alias("op"),
    )
    base = plan_stats(log)["n_exchanges"]    # the reader's own repartition
    s = plan_stats(cdc_snapshot(log, ["user_id"], "ts", seq_col="event_id"))
    assert s["n_exchanges"] == base + 1          # adds the window partition only
    assert len(s["read_schemas"]) == 1
    assert not s["has_python_udf"]


def test_assign_sequences_one_shard_exchange(spark):
    from demv_spark.operators.corpus import assign_sequences

    docs = read_table(spark, SF, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens")
    )
    base = plan_stats(docs)["n_exchanges"]
    s = plan_stats(assign_sequences(docs, "n_tokens", 2048, ["doc_id"], n_shards=8))
    assert s["n_exchanges"] == base + 1          # adds the prefix-sum window only
    assert not s["has_python_udf"]


def test_grouped_corr_single_pass(spark):
    from demv_spark.operators.etl import grouped_corr

    li = read_table(spark, SF, "lineitem")
    s = plan_stats(grouped_corr(li, ["l_returnflag"], "l_quantity", "l_extendedprice"))
    assert len(s["read_schemas"]) == 1
    assert s["n_exchanges"] <= 2                 # partial + final agg
    # column pruning: only the 3 needed columns reach the scan
    assert all("l_orderkey" not in rs for rs in s["read_schemas"])


def test_cross_doc_dup_rate_two_exchanges_no_pairs(spark):
    from demv_spark.operators.dedup import cross_doc_dup_rate

    docs = read_table(spark, SF, "documents")
    s = plan_stats(cross_doc_dup_rate(docs, n=2))
    # shingle-key window + per-doc agg; NO join anywhere (the point:
    # the rate needs no pair generation)
    assert s["n_exchanges"] <= 3
    assert s["n_sort_merge_joins"] == 0
    assert not s["has_python_udf"]


def test_suppress_rare_groups_one_exchange(spark):
    from demv_spark.operators.privacy import suppress_rare_groups

    orders = read_table(spark, SF, "orders")
    base = plan_stats(orders)["n_exchanges"]
    s = plan_stats(suppress_rare_groups(orders, ["o_orderstatus", "o_orderpriority"], 5))
    assert s["n_exchanges"] == base + 1
    assert not s["has_python_udf"]


def test_star_join_broadcasts_both_dims(spark):
    import __spark_entry__ as entrymod

    d = entrymod.queries()["q_olap_star_join"](spark, SF)
    s = plan_stats(d)
    assert s["n_broadcasts"] >= 2                # customer AND nation
    assert s["n_sort_merge_joins"] == 0          # the fact never sorts
    assert not s["has_python_udf"]


def test_topk_chunked_plan_all_joins_broadcast(spark):
    """The chunked union never shuffles the corpus for a join at any
    chunk count: sub-threshold chunks auto-gate to the expression
    twin (one query-side BROADCAST join per chunk, no driver collect,
    no Python-worker corpus pass — VERDICT r11 item 1), and the
    explicitly-pinned Arrow path scores map-only (no join at all)."""
    emb = read_table(spark, SF, "embeddings")
    out = similarity.quantized_cosine_topk_chunked(
        emb.filter(F.col("vec_id") % 10 == 0), emb, dim=64, k=3,
        chunk_rows=16,
    )
    s = plan_stats(out)
    assert s["n_sort_merge_joins"] == 0
    assert s["n_broadcasts"] >= 2        # expression twin per chunk
    assert not s["has_python_udf"]       # the auto-gate chose JVM
    out_arrow = similarity.quantized_cosine_topk_chunked(
        emb.filter(F.col("vec_id") % 10 == 0), emb, dim=64, k=3,
        chunk_rows=16, arrow=True,
    )
    sa = plan_stats(out_arrow)
    assert sa["n_sort_merge_joins"] == 0  # pinned arrow: no join

    def expr_fn(qc):
        return similarity.quantized_cosine_topk(
            qc, emb, 64, k=3, arrow=False
        )

    from demv_spark.operators.similarity import topk_chunked

    out2 = topk_chunked(
        emb.filter(F.col("vec_id") % 10 == 0), expr_fn, chunk_rows=16
    )
    s2 = plan_stats(out2)
    assert s2["n_sort_merge_joins"] == 0
    assert s2["n_broadcasts"] >= 2     # one query-side broadcast per chunk


def test_bloom_prune_fact_side_never_shuffled(spark):
    """With broadcast_verdicts=True (caller bounds the survivor set)
    the prune's joins are all broadcast (word table into the probe,
    verdict keys back into the fact) — the fact table's rows never
    enter an exchange; only its DISTINCT keys do. The DEFAULT path
    does NOT force the verdict broadcast (the verdict table scales
    with the fact's distinct keys, not the dim — ADVICE r8): only the
    word-table broadcast is pinned there and AQE owns the semi-join
    strategy."""
    from demv_spark.functions.sketches import bloom_build, bloom_prune

    orders = read_table(spark, SF, "orders")
    dim = orders.filter(F.col("o_custkey") % 97 == 0).select("o_custkey").distinct()
    bf = bloom_build(dim, "o_custkey", n_bits=1 << 12, n_hashes=4)
    s = plan_stats(bloom_prune(
        orders, bf, "o_custkey", n_bits=1 << 12, n_hashes=4,
        broadcast_verdicts=True,
    ))
    assert s["n_sort_merge_joins"] == 0
    assert s["n_broadcasts"] >= 2
    # default path: word-table probe broadcast stays, verdict join is
    # AQE's call; results are identical either way
    default = bloom_prune(orders, bf, "o_custkey", n_bits=1 << 12, n_hashes=4)
    assert plan_stats(default)["n_broadcasts"] >= 1
    forced = bloom_prune(
        orders, bf, "o_custkey", n_bits=1 << 12, n_hashes=4,
        broadcast_verdicts=True,
    )
    assert default.count() == forced.count()


def test_hll_sketch_single_scan_no_joins(spark):
    """HLL registers + estimate: one input scan, two bounded-key
    aggregations, no join anywhere — the cheapest possible
    distinct-sketch shape."""
    from demv_spark.functions.sketches import hll_estimate, hll_registers

    ev = read_table(spark, SF, "events")
    s = plan_stats(hll_estimate(
        hll_registers(ev, "user_id", group_cols=["event_type"], p=8),
        group_cols=["event_type"], p=8))
    assert len(s["read_schemas"]) == 1
    assert s["n_sort_merge_joins"] == 0
    assert s["n_broadcasts"] == 0


def test_cdc_log_replay_snapshot_no_joins(spark):
    """Snapshot over the replayed tagged log: batch union + ONE
    key-window — no join operator at all (latest-wins is pure window
    algebra over the union)."""
    from demv_spark.operators.cdc import cdc_snapshot
    from demv_spark.streaming.cdc_stream import cdc_log_replay

    ev = read_table(spark, SF, "events").select(
        "user_id", "ts", "event_id",
        F.lit("update").alias("op"),
    )
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    s = plan_stats(cdc_snapshot(
        cdc_log_replay(batches), ["user_id"], "ts", seq_col="event_id"))
    assert s["n_sort_merge_joins"] == 0
    assert s["n_broadcasts"] == 0


# ---- census-only contract of the global windows (round 10, VERDICT
# r9 item 6): group_weights' marginal windows and heavy_hitters' rank
# window are unpartitioned, which is a single-task sort hazard IF a
# caller ever feeds them a raw table. Their contract is that the
# window input is always post-aggregate (≤ census cardinality), so
# the WindowExec's subtree must contain the census aggregation — a
# refactor that hoists the window below the groupBy fails here. ----

def _walk_jplan(node):
    out = [node]
    ch = node.children()
    for i in range(ch.size()):
        out += _walk_jplan(ch.apply(i))
    return out


def _windows_sit_above_aggregate(df, want_take_ordered=False):
    nodes = _walk_jplan(df._jdf.queryExecution().sparkPlan())
    wins = [
        n for n in nodes if n.getClass().getSimpleName().startswith("Window")
    ]
    assert wins, "expected a Window operator in the plan"
    for w in wins:
        sub = [n.getClass().getSimpleName() for n in _walk_jplan(w)[1:]]
        assert any("Aggregate" in s for s in sub), (
            "unpartitioned window over a NON-aggregated input "
            f"(single-task sort at scale): subtree {sub}"
        )
        if want_take_ordered:
            assert any("TakeOrdered" in s for s in sub), (
                f"rank window input is not limit-bounded: {sub}"
            )


def test_group_weights_windows_are_census_only(orders):
    _windows_sit_above_aggregate(
        counting.group_weights(orders, ["o_orderpriority"], "o_orderstatus", None)
    )


def test_heavy_hitters_window_is_census_and_limit_bounded(orders):
    _windows_sit_above_aggregate(
        counting.heavy_hitters(orders, ["o_orderpriority"], top_k=5),
        want_take_ordered=True,
    )


def test_semantic_capped_neighbor_side_is_row_number_capped(spark):
    """The SemDeDup max_cluster path must bound the pair stage's
    neighbor side with ONE row_number window (over the semcap hash)
    followed by a <=-cap filter on a single cluster exchange — the
    linear-candidate contract the 100 TB plan shape depends on
    (round-10 VERDICT item 4)."""
    import re

    from demv_spark.operators.similarity import _semcap_neighbors
    from demv_spark.plans.introspect import explain_str, plan_stats

    rhs = spark.createDataFrame(
        [(1, 10, [1.0, 0.0], 1.0), (1, 11, [0.0, 1.0], 1.0)],
        "cluster int, id_b long, __ub array<double>, __qb double",
    )
    capped = _semcap_neighbors(rhs, 64)
    plan = explain_str(capped, "simple")
    assert "semcap:" in plan
    assert re.search(r"__cn#\d+ <= 64", plan), plan
    # Spark compiles the rank-filter idiom to WindowGroupLimit with a
    # PARTIAL pass before the exchange — each map task pre-truncates
    # its own rows to the cap, so a degenerate cluster never ships
    # more than cap rows per task through the shuffle
    assert re.search(r"WindowGroupLimit .* row_number\(\), 64, Partial", plan)
    assert re.search(r"WindowGroupLimit .* row_number\(\), 64, Final", plan)
    s = plan_stats(capped)
    assert s["n_exchanges"] == 1  # the cluster exchange, nothing else
    assert not s["has_python_udf"]


def test_adasyn_lsh_knn_window_feeds_aggregation_exchange_free(spark):
    """Round-12 plan cut: the kNN window partitions on __fid ALONE
    (globally unique ⇒ same partitions as (keys, __fid)), so the
    fused neighbor/density aggregation sits directly on the window's
    partitioning with NO exchange between them, and the partial
    WindowGroupLimit still runs before the one __fid exchange."""
    import re

    from demv_spark.operators.balancer import group_targets
    from demv_spark.operators.strategies import synthetic_rebalance_lsh
    from demv_spark.plans.introspect import explain_str

    base = (
        read_table(spark, SF, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            (F.col("o_totalprice") > 100000).cast("int").alias("s"),
            (F.col("o_totalprice") > 200000).cast("int").alias("y"),
            "o_orderkey",
            (F.col("o_orderkey") % 997).cast("double").alias("f1"),
        )
    )
    targets = group_targets(base, ["s"], "y", 1, 10000)
    out = synthetic_rebalance_lsh(
        base, ["s"], "y", targets, id_cols=["o_orderkey"],
        strategy="adasyn", seed=42, k=3, n_tables=1, n_projs=2,
        max_bucket=8, bucket_width=500.0,
    )
    plan = explain_str(out, "simple")
    # the aggregation's subtree: ObjectHashAggregate(partial) directly
    # over the Window — no Exchange may sit between them
    m = re.search(
        r"ObjectHashAggregate\(keys=\[[^\]]*__fid[^\]]*\], functions=\[partial_"
        r".*?(?=SortMergeJoin|BroadcastHashJoin|Exchange hashpartitioning\(__fid)",
        plan, re.S,
    )
    assert m, plan
    inner = m.group(0)
    assert "Window" in inner and "WindowGroupLimit" in inner, inner
    assert "Exchange" not in inner.split("WindowGroupLimit")[0], inner
    # exactly TWO __fid exchanges in the whole DAG: one feeding the
    # candidate window chain, one for the rows side of the density
    # join (the window/agg/join right-side all reuse the first)
    n_fid_ex = len(re.findall(r"Exchange hashpartitioning\(__fid", plan))
    assert n_fid_ex == 2, plan
    s = plan_stats(out)
    assert not s["has_python_udf"]


def test_call_lifetime_materializations_leave_no_cache_entries(spark):
    """Round 13 (VERDICT r12 item 7 / ADVICE): the chunked-ANN family
    and the LSH signature tables materialize intermediates with eager
    localCheckpoint, NOT persist — after two calls and full
    consumption, the session's CacheManager must hold NOTHING (every
    leaked entry costs a canonicalized-plan comparison on EVERY later
    query, and the blocks pinned memory until session eviction).
    Checkpoint blocks release with the result DataFrames via the
    ContextCleaner instead."""
    from demv_spark.operators import dedup

    # start from a clean CacheManager: this test pins THESE operators'
    # hygiene, not the suite's run order (an earlier test's session
    # residue failed it spuriously in the full run — round 13)
    spark.catalog.clearCache()
    emb = read_table(spark, SF, "embeddings")
    docs = read_table(spark, SF, "documents")
    for _ in range(2):
        similarity.quantized_cosine_topk_chunked(
            emb.filter(F.col("vec_id") % 10 == 0), emb, dim=64, k=3,
            chunk_rows=16,
        ).collect()
        dedup.minhash_lsh_pairs_portable(
            docs.select("doc_id", "text").limit(200)
        ).collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "persisted tables outlived the operator calls"


def test_cv_fold_caches_release_with_the_call(spark):
    """Round 13: the k-fold helpers cached their fold assignment for
    the whole session (out_of_fold_predictions held a CacheManager
    entry on a corpus-sized table until session eviction; cross_val
    and the EG/GridSearch fits the same). After the call returns and
    its result is consumed, the CacheManager must hold nothing."""
    from pyspark.ml.classification import LogisticRegression

    from demv_spark.ml import evaluation as E

    spark.catalog.clearCache()
    data = spark.range(200).select(
        (F.col("id") % 7).cast("double").alias("f1"),
        (F.col("id") % 2).cast("double").alias("g"),
        (F.col("id") % 3 == 0).cast("double").alias("y"),
    )
    clf = LogisticRegression(
        featuresCol="__features", labelCol="y", maxIter=3
    )
    E.out_of_fold_predictions(data, ["f1"], "y", clf, k=2).collect()
    E.cross_val(
        data, ["f1"], "y", clf,
        unpriv=F.col("g") == 1.0, positive_label=1.0, sensitive=["g"],
        k=2,
    ).collect()
    # the debiased training split is checkpointed once per fold; its
    # blocks must go with the call too
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    E.cross_val(
        data, ["f1"], "y", clf,
        unpriv=F.col("g") == 1.0, positive_label=1.0, sensitive=["g"],
        k=2, debias=lambda t: t.filter(F.col("f1") != 3.0),
    ).collect()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, "debiased-split checkpoints outlived the call"
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "fold caches outlived the CV calls"


def test_topk_chunked_ranks_union_in_one_window(spark):
    """The chunk union is ranked by ONE rank window (round 13): a
    per-chunk _topk cost n_chunks window exchanges for identical
    output — every query's rows live in exactly one chunk."""
    emb = read_table(spark, SF, "embeddings")
    out = similarity.quantized_cosine_topk_chunked(
        emb.filter(F.col("vec_id") % 10 == 0), emb, dim=64, k=3,
        chunk_rows=16,
    )
    from demv_spark.plans.introspect import explain_str

    simple = explain_str(out, "simple")
    import re

    assert len(re.findall(r"\bWindow\b", simple)) == 1


@pytest.fixture(scope="module")
def census_table(spark):
    """A label-biased table built from spark.range (no Python RDD of
    its own), so a Python-RDD scan in a plan can only come from the
    engine."""
    from demv_spark.sources.generator import make_classification

    base = make_classification(
        spark, 400, n_features=2, n_classes=2, n_sensitive=1, seed=9
    )
    return base.withColumn(
        "y",
        F.when(
            (F.col("s0") == 1) & (F.col("y") == 1) & (F.rand(4) < 0.5), 0
        ).otherwise(F.col("y")),
    )


def test_paper_path_tables_scan_no_python_rdd(spark, census_table, monkeypatch):
    """Every table the paper path builds on the driver is an Arrow
    local relation: no plan below scans a ``createDataFrame(list)``
    Python RDD, whose every scan costs Python-worker tasks."""
    from demv_spark.ml import eg
    from demv_spark.ml import evaluation as E

    df = census_table
    assert not plan_stats(df)["has_python_rdd"]
    # the lint itself: a list-built table is flagged, its checkpoint not
    listed = spark.createDataFrame([(1, 2.0)], "a int, b double")
    assert plan_stats(listed)["has_python_rdd"]
    assert not plan_stats(listed.localCheckpoint(eager=True))["has_python_rdd"]

    uniform = DEMV(["s0"], label="y", seed=1).fit(df)
    assert not plan_stats(uniform.transform(df))["has_python_rdd"]
    smote = DEMV(["s0"], label="y", seed=1, strategy="smote").fit(df)
    # both SMOTE branches are in the plan: exact shrink and synthetic grow
    assert {t["target"] > t["n"] for t in smote._targets} == {True, False}
    assert not plan_stats(smote.transform(df))["has_python_rdd"]

    per_fold = E.cross_val(
        df, ["f0", "f1"], "y", None, F.col("s0") == 0, 1, ["s0"], k=2,
        fit=lambda train: lambda test: test.withColumn(
            "prediction", F.col("s0").cast("double")
        ),
    )
    assert not plan_stats(per_fold)["has_python_rdd"]
    assert not plan_stats(eg.eg_bounded_loss_dynamics(df, "s0", "y"))[
        "has_python_rdd"
    ]
    assert not plan_stats(eg.grid_bounded_loss_census(df, "s0", "y"))[
        "has_python_rdd"
    ]

    # the weighted-fit input: the pipeline's fit sees the λ-weight join
    fit_inputs = []

    class _Captured(Exception):
        pass

    class _Pipe:
        def fit(self, data):
            fit_inputs.append(data)
            raise _Captured

    monkeypatch.setattr(E, "_pipeline", lambda *a, **kw: _Pipe())
    with pytest.raises(_Captured):
        eg.ExponentiatedGradientBGL(lambda: None, ["s0"], "y", iters=1).fit(
            df, ["f0", "f1"]
        )
    (weighted,) = fit_inputs
    assert "__eg_w" in weighted.columns
    assert not plan_stats(weighted)["has_python_rdd"]


# The modules the paper path loads: DEMV balancing, the fairness
# metrics, the k-fold debias -> train -> metrics protocol and the CLI.
PAPER_PATH_MODULES = {
    "demv_spark",
    "demv_spark.cli",
    "demv_spark.functions",
    "demv_spark.functions.compat",
    "demv_spark.functions.counting",
    "demv_spark.functions.metrics",
    "demv_spark.ml",
    "demv_spark.ml.cm_pdf",
    "demv_spark.ml.eg",
    "demv_spark.ml.evaluation",
    "demv_spark.operators",
    "demv_spark.operators.balancer",
    "demv_spark.operators.etl",
    "demv_spark.operators.postprocess",
    "demv_spark.operators.strategies",
    "demv_spark.session",
    "demv_spark.sources",
    "demv_spark.sources.readers",
    "demv_spark.sources.recipes",
    "demv_spark.sources.sinks",
}


def test_paper_path_import_closure():
    """Importing the paper path's entry modules in a fresh interpreter
    loads exactly PAPER_PATH_MODULES: an off-paper module that slips
    into the closure (or a paper module that drops out) fails here."""
    import os
    import subprocess
    import sys

    entry = [
        "demv_spark.cli",
        "demv_spark.operators.strategies",
        "demv_spark.operators.postprocess",
        "demv_spark.ml.evaluation",
        "demv_spark.ml.eg",
        "demv_spark.ml.cm_pdf",
        "demv_spark.functions.metrics",
        "demv_spark.sources.readers",
        "demv_spark.sources.sinks",
        "demv_spark.sources.recipes",
    ]
    code = (
        "import importlib, sys\n"
        f"for m in {entry!r}: importlib.import_module(m)\n"
        "print(*(n for n in sys.modules if n.split('.')[0] == 'demv_spark'))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, check=True,
        capture_output=True, text=True,
    ).stdout
    loaded = set(out.split())
    assert loaded == PAPER_PATH_MODULES, (
        f"entered: {sorted(loaded - PAPER_PATH_MODULES)}, "
        f"left: {sorted(PAPER_PATH_MODULES - loaded)}"
    )
