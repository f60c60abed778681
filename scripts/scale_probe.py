"""Scale probe: measure headline operators at 1x and Kx synthetic
scale-ups of the sf0.1 testdata and report the wall-clock growth
ratio vs the linear ideal.

The 100 TB claims in PERFORMANCE.md are plan-shape arguments
(bounded pair explosion, broadcast dims, salted ranks); this probe
backs them with measurements: an operator whose cost curve is linear
in rows should show time(Kx)/time(1x) ≈ K on a fixed-core machine —
superlinear growth exposes a hidden all-pairs/skew hazard. Inputs are
scaled IN MEMORY (crossJoin with spark.range(K), ids offset per
replica so keys stay distinct and group/bucket structure is
preserved), so the probe needs no extra testdata.

Usage: python scripts/scale_probe.py [K] [--sf DIR]   (default K=8)
Prints one JSON line per probe: {op, rows_1x, sec_1x, rows_kx,
sec_kx, ratio, linear_ideal}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from demv_spark.session import get_spark


def scaled(df, k: int, id_cols: dict[str, int]):
    """K replicas with per-replica id offsets (group values untouched
    so census/bucket structure is preserved)."""
    rep = df.crossJoin(F.broadcast(df.sparkSession.range(k).select(F.col("id").alias("__rep"))))
    for c, span in id_cols.items():
        rep = rep.withColumn(c, F.col(c) + F.col("__rep") * F.lit(span))
    return rep.drop("__rep")


def probe(name, fn, df1, dfk):
    t0 = time.time()
    n1 = fn(df1)
    s1 = time.time() - t0
    t0 = time.time()
    nk = fn(dfk)
    sk = time.time() - t0
    return {
        "op": name,
        "rows_1x": n1,
        "sec_1x": round(s1, 2),
        "rows_kx": nk,
        "sec_kx": round(sk, 2),
        "ratio": round(sk / s1, 2) if s1 > 0 else None,
    }


def main():
    k = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 8
    sf = "/root/testdata/sf0.1"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]

    from demv_spark.operators import dedup, text
    from demv_spark.operators.balancer import DEMV
    from demv_spark.operators.postprocess import multiclass_quota_adjust
    from demv_spark.sources.readers import read_table

    spark = get_spark(
        "scale-probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = read_table(spark, sf, "documents").cache()
    orders = read_table(spark, sf, "orders").cache()
    docs.count(), orders.count()
    docs_k = scaled(docs, k, {"doc_id": 10_000_000}).cache()
    emb = read_table(spark, sf, "embeddings").cache()
    emb_k = scaled(emb, k, {"vec_id": 10_000_000}).cache()
    emb.count(), emb_k.count()
    orders_k = scaled(orders, k, {"o_orderkey": 100_000_000}).cache()
    docs_k.count(), orders_k.count()

    def run_exact(d):
        return dedup.exact_dedup(d).count()

    def run_lsh(d):
        return dedup.minhash_lsh_pairs(d, num_hashes=32, bands=16).count()

    def run_jaccard(d):
        return dedup.ngram_jaccard_pairs(d, n=2, threshold=0.1, max_df=50).count()

    def run_clean(d):
        return text.corpus_clean(
            d, min_tokens=20, min_quality=0.45, max_repetition=0.3,
            langs=("en", "und"),
        ).count()

    def run_qclf(d):
        from demv_spark.operators import quality_clf as qc

        # sum(score) forces the full weight computation per row
        r = qc.hashed_linear_score(d).agg(
            F.count(F.lit(1)), F.sum("score")
        ).collect()[0]
        return int(r[0])

    def run_domain_filter(d):
        from demv_spark.operators import web

        urls = d.select(
            "doc_id",
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example"),
                (F.col("doc_id") % 7).cast("string"), F.lit(".com/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
        )
        return int(
            web.flag_blocked_domains(urls, ["example0.com", "example3.com"])
            .agg(F.sum("blocked")).collect()[0][0]
        )

    def run_rebalance(o):
        tbl = o.select(
            (F.col("o_totalprice") > 100000).cast("int").alias("s"),
            (F.col("o_totalprice") > 200000).cast("int").alias("y"),
            "o_orderkey",
        )
        return DEMV(["s"], label="y", round_level=1, seed=42).fit_transform(tbl).count()

    def run_quota(o):
        tbl = o.select(
            "o_orderkey", "o_orderpriority",
            F.when(F.col("o_totalprice") < 100000, 0)
            .when(F.col("o_totalprice") < 200000, 1).otherwise(2).alias("pred"),
        )
        return multiclass_quota_adjust(
            tbl, ["o_orderpriority"], "pred", ["pred", "o_orderkey"]
        ).count()

    from demv_spark.operators import etl

    # aggregate over the computed bucket so Catalyst cannot prune the
    # ranking work away (count() alone would)
    def run_ntile_plain(o):
        return int(
            etl.quantile_bucketize(o, "o_totalprice", 10, tiebreak=["o_orderkey"])
            .agg(F.sum("o_totalprice_q")).collect()[0][0]
        )

    def run_ntile_bucketed(o):
        return int(
            etl.quantile_bucketize_bucketed(
                o, "o_totalprice", 10, tiebreak=["o_orderkey"]
            ).agg(F.sum("o_totalprice_q")).collect()[0][0]
        )

    # skew probe (VERDICT r5 item 6): half the rows share ONE exact
    # value, so every duplicate lands in the same range bucket (equal
    # values must share a bucket for exactness) and that bucket's
    # row_number task carries the whole duplicate mass. The probe
    # measures the wall-clock growth of the bucketed plan under this
    # worst case — the documented cost floor is the largest
    # equal-value mass, and growth should stay ~linear in K (one big
    # sort task over K·n/2 rows), never quadratic.
    orders_skew = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit(42424.42))
        .otherwise(F.col("o_totalprice")),
    ).cache()
    orders_skew_k = scaled(orders_skew, k, {"o_orderkey": 100_000_000}).cache()
    orders_skew.count(), orders_skew_k.count()

    def run_ntile_bucketed_skew(o):
        return int(
            etl.quantile_bucketize_bucketed(
                o, "o_totalprice", 10, tiebreak=["o_orderkey"]
            ).agg(F.sum("o_totalprice_q")).collect()[0][0]
        )

    # SMOTE scale-path comparison: the exact grouped-applyInPandas
    # kNN is quadratic in group size; the LSH variant is
    # candidates-not-all-pairs. Probed on a generated classification
    # table (4 groups) grown K×: exact should grow ~quadratically,
    # LSH near-linearly.
    from demv_spark.operators.strategies import (
        synthetic_rebalance,
        synthetic_rebalance_lsh,
    )
    from demv_spark.sources.generator import make_classification

    clf_base = make_classification(
        spark, 3000, n_features=4, n_classes=2, n_sensitive=1, seed=3
    ).withColumn("__rid", F.xxhash64("f0", "f1", "f2", "f3")).cache()
    clf_k = scaled(clf_base, k, {"__rid": 1 << 40}).cache()
    clf_base.count(), clf_k.count()

    def _smote_targets(d):
        cen = d.groupBy("s0", "y").count().collect()
        return [
            {"s0": r["s0"], "y": r["y"], "n": r["count"],
             "target": r["count"] + (r["count"] // 5 if (r["s0"], r["y"]) == (1, 1) else 0)}
            for r in cen
        ]

    def run_smote_exact(d):
        # the exact path has no id concept; keep its feature space to
        # f0..f3 so both variants interpolate the same geometry
        return synthetic_rebalance(
            d.drop("__rid"), ["s0"], "y", _smote_targets(d), strategy="smote", k=5
        ).count()

    def run_smote_lsh(d):
        return synthetic_rebalance_lsh(
            d, ["s0"], "y", _smote_targets(d),
            id_cols=["__rid"], k=5,
        ).count()

    def run_adasyn_lsh(d):
        return synthetic_rebalance_lsh(
            d, ["s0"], "y", _smote_targets(d),
            id_cols=["__rid"], k=5, strategy="adasyn",
        ).count()

    # round-4 curation ops: cap_per_key (windowed quota, plain vs
    # salted) and the two map-only ops (split assignment + canonical
    # URL), probed on the documents table with a synthesized domain
    from demv_spark.operators import web
    from demv_spark.operators.corpus import cap_per_key, split_by_hash

    def _with_domain(d):
        return d.withColumn(
            "domain",
            F.concat(F.col("source"), F.lit("."), (F.col("doc_id") % 97).cast("string")),
        )

    def run_cap_plain(d):
        return int(
            cap_per_key(_with_domain(d), ["domain"], 20, ["doc_id"])
            .agg(F.sum("admitted")).collect()[0][0]
        )

    def run_cap_salted(d):
        return int(
            cap_per_key(_with_domain(d), ["domain"], 20, ["doc_id"], skew_salt=8)
            .agg(F.sum("admitted")).collect()[0][0]
        )

    def run_split_canon(d):
        dd = _with_domain(d).withColumn(
            "url", F.concat(F.lit("HTTPS://"), F.col("domain"), F.lit(".com/P/"),
                            F.col("doc_id").cast("string"), F.lit("?utm_source=x&id=1")),
        )
        return split_by_hash(dd, ["domain"], {"train": 0.9, "test": 0.1}).select(
            F.length(web.canonicalize_url("url")).alias("L"), "split"
        ).agg(F.count("L")).collect()[0][0]

    # near-dup band capacity: candidate-pair volume (threshold=-1
    # admits every banded collision) under the old 16-plane/8-bit
    # banding vs the 64-plane/16-bit default, on synthetic uncorrelated
    # vectors (xxhash64 components — replicating the real embeddings
    # K× would plant K-cliques of exact copies and measure those, not
    # the background collision rate). 256-bucket bands collide at
    # ≈ n²·bands/256 → the ratio at K× tracks K²; 65536-bucket bands
    # keep the candidate volume near-linear until n ≫ 6·10⁴ per band.
    from demv_spark.operators.similarity import embedding_near_dup

    def _rand_vecs(n):
        return (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(64)),
                    lambda j: (
                        ((F.xxhash64(F.col("id"), j) % 2001) + 2001) % 2001
                        - 1000
                    ) / 1000.0,
                ).alias("embedding"),
            )
            .cache()
        )

    vecs_1 = _rand_vecs(2000)
    vecs_k = _rand_vecs(2000 * k)
    vecs_1.count(), vecs_k.count()

    def run_near_dup_narrow(d):
        return embedding_near_dup(
            d, dim=64, threshold=-1.0, n_planes=16, band_bits=8
        ).count()

    def run_near_dup_wide(d):
        return embedding_near_dup(
            d, dim=64, threshold=-1.0, n_planes=64, band_bits=16
        ).count()

    # round-5 families: contract validation (one fused agg), funnel
    # (one collect_list shuffle + fold), quantized ANN (broadcast
    # map-only int MACs)
    from demv_spark.operators import validate as V
    from demv_spark.operators.similarity import quantized_cosine_topk
    from demv_spark.operators.temporal import funnel_census

    events = read_table(spark, sf, "events").cache()
    events.count()
    events_k = scaled(events, k, {"event_id": 100_000_000, "user_id": 10_000_000}).cache()
    events_k.count()

    def run_validate(o):
        rules = {
            "custkey_not_null": V.not_null("o_custkey"),
            "totalprice_in_range": V.in_range("o_totalprice", 0.0, 1e6),
            "status_in_set": V.in_set("o_orderstatus", ["F", "O", "P"]),
        }
        rows = V.expectation_report(o, rules).collect()
        return int(rows[0]["n_rows"]) + sum(r["violations"] for r in rows)

    def run_funnel(e):
        return sum(
            r["n_users"] for r in funnel_census(
                e, "user_id", "event_type", "ts",
                ["view", "click", "purchase"], id_col="event_id",
            ).collect()
        )

    def run_quantized_topk(vv):
        return quantized_cosine_topk(
            vv.filter(F.col("vec_id") < 8), vv, dim=64, k=10
        ).count()

    # PQ encode (map-only argmin over the literal codebook) and
    # integer PageRank (one shuffle per iteration) — round-6 families
    from demv_spark.operators import similarity as _sim
    from demv_spark.operators.graph import pagerank_integer

    _pq_cents = _sim.pq_train_fixed(vecs_1, 64)

    def run_pq_encode(vv):
        return (
            _sim.pq_encode(vv, _pq_cents, 64)
            .agg(F.sum(F.expr("aggregate(pq_codes, 0L, (a, x) -> a + x)")))
            .collect()[0][0]
        )

    def run_pagerank(d):
        fwd = d.select(
            F.lower("source").alias("src"),
            F.concat(F.lit("hub"), (F.col("doc_id") % 7).cast("string")).alias("dst"),
        )
        back = d.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(F.lit("hub"), (F.col("doc_id") % 7).cast("string")).alias("src"),
            F.lower("source").alias("dst"),
        )
        return int(
            pagerank_integer(fwd.unionByName(back), iterations=5)
            .agg(F.sum("rank_int")).collect()[0][0]
        )

    from demv_spark.operators import corpus as _corpus
    from demv_spark.operators.linkage import blocked_fuzzy_join

    def run_shard_assignment(d):
        return int(
            _corpus.shard_assignment(d.select("doc_id"), ["doc_id"], 64)
            .agg(F.sum("pos_in_shard")).collect()[0][0]
        )

    def run_vocab_coverage(d):
        return int(
            text.vocab_coverage(d, [100, 10_000])
            .agg(F.sum("covered")).collect()[0][0]
        )

    def run_corpus_diff(d):
        fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
        old = d.filter(F.col("doc_id") % 10 != 0).select("doc_id", fp.alias("fp"))
        new = d.filter(F.col("doc_id") % 7 != 0).select(
            "doc_id",
            F.md5(
                F.concat(
                    F.coalesce(F.col("text"), F.lit("")),
                    F.when(F.col("doc_id") % 5 == 0, F.lit(" edited"))
                    .otherwise(F.lit("")),
                )
            ).alias("fp"),
        )
        return _corpus.corpus_diff(old, new, ["doc_id"]).count()

    def run_incremental_admission(d):
        fp = F.md5(F.array_join(F.slice(text.tokens("text"), 1, 5), " "))
        existing = d.filter(~(F.col("doc_id") % 10).isin(3, 6)).select(fp.alias("fp"))
        batch = d.filter((F.col("doc_id") % 10).isin(3, 6)).select(
            "doc_id", fp.alias("fp")
        )
        # sum over the verdict column, NOT count(): count() lets
        # Catalyst prune the rank window (its only consumer is the
        # verdict CASE), so the probed plan would skip the very
        # shuffle whose scaling this row documents
        r = (
            dedup.incremental_admission(batch, existing)
            .agg(F.count(F.lit(1)), F.sum(F.length("verdict")))
            .collect()[0]
        )
        return int(r[0])

    part = read_table(spark, sf, "part").cache()
    part.count()
    part_k = scaled(part, k, {"p_partkey": 100_000_000}).cache()
    part_k.count()
    # fixed dirty batch vs a growing clean catalog — the real ingest
    # shape (scaling BOTH sides grows matched pairs quadratically by
    # construction, since duplicated names legitimately all match)
    dirty_fixed = (
        part.filter(F.col("p_partkey") % 3 == 0)
        .select(
            F.col("p_partkey").alias("pk_b"),
            F.col("p_name").substr(
                F.lit(1), F.greatest(F.length("p_name") - 2, F.lit(0))
            ).alias("name_b"),
        )
        .cache()
    )
    dirty_fixed.count()

    def run_fuzzy_join_fixed_batch(p):
        left = p.select(
            F.col("p_partkey").alias("pk_a"), F.col("p_name").alias("name_a")
        )
        return blocked_fuzzy_join(left, dirty_fixed, "name_a", "name_b", 2).count()

    # Hamming near-dup capacity: (a) BACKGROUND candidate volume on
    # uncorrelated 64-bit hashes with the verify filter held open
    # (max_hamming=64 admits every banded collision) — candidates ≈
    # n²·bands/2^16 for 16-bit bands, i.e. the quadratic term carries
    # a 1/16384 constant and the per-bucket join stays flat until a
    # band bucket nears ~6·10⁴ rows; (b) the PLANTED driver-query
    # shape (97 md5 base cliques, 0-4 bit flips) at the real
    # threshold — output pairs grow ~K² by construction (cliques
    # densify), so the honest signal is sec_kx tracking rows_kx, not
    # staying flat.
    from demv_spark.functions.compat import portable_hash

    def run_hamming_random(d):
        h = d.select("doc_id", F.xxhash64(F.col("doc_id")).alias("h"))
        return dedup.hamming_near_dup(
            h, "doc_id", "h", max_hamming=64, bands=4, strict=False
        ).count()

    def run_hamming_planted(d):
        base = portable_hash((F.col("doc_id") % 97).cast("string"))
        mask = None
        for i in range(4):
            bit = F.when(
                (F.col("doc_id") % 5) > i,
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST({i} * 15 + doc_id % 15 AS INT))"
                ),
            ).otherwise(F.lit(0).cast("long"))
            mask = bit if mask is None else mask + bit
        h = d.select("doc_id", base.bitwiseXOR(mask).alias("h"))
        return dedup.hamming_near_dup(h, "doc_id", "h", max_hamming=3).count()

    # batch BM25: cost should track the corpus tokenize (linear),
    # not the query count or any per-query global rank
    def run_bm25_batch(d):
        from demv_spark.operators.text import bm25_topk_batch

        return bm25_topk_batch(
            d,
            {"q1": ["spark", "table"], "q2": ["join", "data", "fast"],
             "q3": ["window", "batch"]},
            top_k=10,
        ).count()

    # round-7 additions: CDC latest-wins (one key shuffle), cross-doc
    # dup-rate (window DF census), sequence packing (per-shard prefix
    # sums), z-order pruning census (map-only + one agg), RRF fusion
    # (candidate-sized joins — fixed query count, so Kx corpus should
    # barely move it)
    def run_cdc_snapshot(d):
        from demv_spark.operators.cdc import cdc_snapshot

        log = d.select(
            (F.col("o_custkey") % 50000).alias("k"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
            .otherwise(F.lit("update")).alias("op"),
            "o_totalprice",
        )
        return cdc_snapshot(log, ["k"], "ts", seq_col="seq").count()

    def run_dup_rate(d):
        return dedup.cross_doc_dup_rate(d, n=2).count()

    def run_pack_sequences(d):
        from demv_spark.operators.corpus import assign_sequences
        from demv_spark.operators.text import token_count

        t = token_count(d, "text", "n_tokens").select("doc_id", "n_tokens")
        return assign_sequences(
            t, "n_tokens", 2048, ["doc_id"], n_shards=32
        ).count()

    def run_zorder_census(d):
        from demv_spark.operators.layout import zorder_pruning_stats

        z = d.select(
            F.pmod(F.col("o_custkey"), F.lit(1024)).alias("a"),
            F.pmod(F.col("o_orderkey"), F.lit(1024)).alias("b"),
        )
        return zorder_pruning_stats(z, ["a", "b"], 10, 4).count()

    def run_countmin(d):
        from demv_spark.functions.sketches import countmin_counters

        return countmin_counters(d, "source", depth=4, width=1024).count()

    def run_bloom_build(d):
        from demv_spark.functions.sketches import bloom_build

        return bloom_build(d, "doc_id", n_bits=1 << 18, n_hashes=4).count()

    def run_kmv(d):
        from demv_spark.functions.sketches import kmv_distinct

        return kmv_distinct(d, "doc_id", group_cols=["source"], k=64).count()

    def run_phrase_search(d):
        from demv_spark.operators.text import inverted_index, phrase_search

        planted = d.select(
            "doc_id",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(F.col("doc_id") % 7 == 0, F.lit(" quick brown fox"))
                .otherwise(F.lit("")),
            ).alias("text"),
        )
        return phrase_search(inverted_index(planted), "quick brown fox").count()

    # round-8 families: chunked broadcast ANN (queries grow K× →
    # chunk count grows K×, corpus fixed — the semantic-join shape),
    # the two replayed streaming maintainers (linear folds), and real
    # JPEG decode → dHash throughput (mapInPandas, embarrassingly
    # parallel)
    def run_topk_chunked(qset):
        from demv_spark.operators.similarity import (
            quantized_cosine_topk_chunked,
        )

        return quantized_cosine_topk_chunked(
            qset, vecs_1, dim=64, k=5, chunk_rows=2000
        ).count()

    def run_index_log_replay(d):
        from demv_spark.streaming.index_stream import (
            index_log_replay,
            resolve_index_log,
        )

        batches = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        # batch 2 also re-fetches batch 0's docs (overlap exercises
        # the latest-batch resolution, not just the union)
        batches[2] = batches[2].unionByName(
            batches[0].withColumn(
                "text", F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2"))
            )
        )
        batches = [b.select("doc_id", "text") for b in batches]
        return resolve_index_log(index_log_replay(batches)).count()

    def run_cdc_log_replay(o):
        from demv_spark.operators.cdc import cdc_snapshot
        from demv_spark.streaming.cdc_stream import cdc_log_replay

        log = o.select(
            (F.col("o_custkey") % 50000).alias("k"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderkey").alias("seq"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
            .otherwise(F.lit("update")).alias("op"),
        )
        batches = [log.filter(F.col("seq") % 3 == i) for i in range(3)]
        return cdc_snapshot(
            cdc_log_replay(batches), ["k"], "ts", seq_col="seq"
        ).count()

    def run_hll(d):
        from demv_spark.functions.sketches import hll_estimate, hll_registers

        return hll_estimate(
            hll_registers(d, "doc_id", group_cols=["source"], p=8),
            group_cols=["source"], p=8,
        ).count()

    def run_bloom_prune(o):
        from demv_spark.functions.sketches import bloom_build, bloom_prune

        dim = o.filter(F.col("o_custkey") % 97 == 0).select("o_custkey").distinct()
        bf = bloom_build(dim, "o_custkey", n_bits=1 << 16, n_hashes=4)
        return bloom_prune(o, bf, "o_custkey", n_bits=1 << 16, n_hashes=4).count()

    def run_chunk_windows(d):
        from demv_spark.operators.text import chunk_windows

        return chunk_windows(d, chunk_tokens=64, overlap=16).count()

    def run_dedup_e2e(d):
        from demv_spark.operators.dedup import (
            best_of_cluster,
            duplicate_clusters,
            minhash_lsh_pairs_portable,
        )

        pairs = minhash_lsh_pairs_portable(
            d, num_hashes=32, bands=8, shingle_n=3
        )
        clusters = duplicate_clusters(pairs)
        return best_of_cluster(
            clusters, d.select("doc_id", F.col("n_chars").alias("quality"))
        ).count()

    def run_dsir(d):
        from demv_spark.operators.corpus import dsir_weights

        target = d.filter(F.lower("source").isin("src1", "src3"))
        return dsir_weights(d, target, n_buckets=512, seed=7).count()

    def run_session_features(e):
        from demv_spark.operators.temporal import session_features

        return session_features(e, gap_minutes=30).count()

    def run_triangles(d):
        # node space grows WITH the row count (modulus ~1.5x rows),
        # keeping edge density constant across scales — a fixed
        # modulus saturates at large K and the probe would measure a
        # densifying ~100k-node graph instead of a 64x-larger one
        # (caught by the round-10 64x run: rows_kx grew only 5x)
        from demv_spark.operators import graph

        m = max(100_003, int(1.5 * d.count()) | 1)
        # hash BEFORE the modulus: replica id offsets and the raw
        # doc_id distribution would otherwise alias under m and
        # densify instead of growing the node space
        nid = lambda c: F.pmod(F.xxhash64(c), F.lit(m))
        e = d.select(
            nid(F.col("doc_id")).cast("string").alias("src"),
            nid(F.col("doc_id") * 7 + 13).cast("string").alias("dst"),
        ).unionAll(
            d.filter(F.col("doc_id") % 3 == 0).select(
                nid(F.col("doc_id") * 7 + 13).cast("string").alias("src"),
                nid(F.col("doc_id") * 3 + 40).cast("string").alias("dst"),
            )
        )
        return graph.triangle_census(e).count()

    def run_salted_join(o):
        from demv_spark.functions.joins import salted_join

        facts = o.select(
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("HOT"))
            .otherwise(F.col("o_orderpriority")).alias("k"),
            "o_orderkey",
        )
        dims = facts.select("k").distinct().withColumn(
            "payload", F.length("k").cast("long")
        )
        return salted_join(facts, dims, "k", n_salts=32, hot_keys=["HOT"]) \
            .agg(F.count(F.lit(1)), F.sum("payload")).collect()[0][0]

    def run_hilbert(o):
        from demv_spark.operators.layout import hilbert_pruning_stats

        d = o.select(
            F.pmod(F.col("o_custkey"), F.lit(1024)).alias("a"),
            F.pmod(F.col("o_orderkey"), F.lit(1024)).alias("b"),
        )
        return hilbert_pruning_stats(d, "a", "b", bits=10, prefix_bits=4).count()

    def run_covariance(emb):
        from demv_spark.operators.similarity import embedding_covariance

        return embedding_covariance(emb, dim=16).count()

    def run_kcore(d):
        # constant-density hashed-node fixture like the triangle
        # probe but DENSER (m ~ rows/2, avg degree ~4-5) so the
        # 2-core is non-empty at 1x and the peel cascade is real
        from demv_spark.operators import graph

        m = max(1_009, int(0.5 * d.count()) | 1)
        nid = lambda c: F.pmod(F.xxhash64(c), F.lit(m))
        e = d.select(
            nid(F.col("doc_id")).cast("string").alias("src"),
            nid(F.col("doc_id") * 7 + 13).cast("string").alias("dst"),
        ).unionAll(
            d.filter(F.col("doc_id") % 3 == 0).select(
                nid(F.col("doc_id") * 7 + 13).cast("string").alias("src"),
                nid(F.col("doc_id") * 3 + 40).cast("string").alias("dst"),
            )
        )
        return graph.kcore(e, 2).count()

    def run_repeated_ngrams(d):
        from demv_spark.operators.dedup import repeated_ngram_census

        # UNCAPPED df so the probed output is monotone in corpus
        # size (the max_df cap drops grams whose df crosses it, which
        # at Kx replication removes exactly the planted repeats)
        return int(
            repeated_ngram_census(d, n=3, min_df=2)
            .agg(F.sum("n_repeated_pos")).collect()[0][0]
        )

    def run_span_trim(d):
        from demv_spark.operators.dedup import span_trim

        # uncapped df (the repeated_ngram_census probe's reasoning):
        # replicas make every doc's grams corpus-repeated, so the
        # trim work is monotone in corpus size
        r = (
            span_trim(d, n=3, min_df=2)
            .agg(F.sum("n_tokens_after"), F.sum("n_spans_removed"))
            .collect()[0]
        )
        return int(r[1])

    def run_decontaminate_near(d):
        from demv_spark.operators.dedup import decontaminate_near

        # bench side FIXED (eval sets don't grow with the corpus):
        # always the base slice, so the probe measures corpus-side
        # signing + the banded cross join at Kx corpus volume
        bench = docs.filter(F.col("doc_id") % 13 == 0)
        return decontaminate_near(
            d, bench, num_hashes=32, bands=8, shingle_n=3, threshold=0.5
        ).count()

    def run_hard_negatives(ee):
        # FIXED query set (the decontaminate_near reasoning: the
        # mining query batch doesn't grow with the corpus), so the
        # probe measures the corpus-side quantization + the single
        # broadcast scoring join at Kx corpus volume
        from demv_spark.operators.similarity import hard_negative_topk

        qs = emb.filter(F.col("vec_id") < 100)
        return hard_negative_topk(
            qs, ee, dim=64, k=10, ceiling=0.98
        ).count()

    def run_semantic_dedup(ee):
        # per-row scale jitter so the K replicas of a vector are NOT
        # trivial duplicates (a pure id offset keeps the embedding
        # identical, which would make the within-cluster pair output
        # quadratic in K by construction); jitter keyed on vec_id so
        # replicas diverge, leaving output growth ~linear and the
        # probe measuring the pipeline, not the planted explosion
        from demv_spark.operators.similarity import semantic_dedup

        jit = 1.0 + (F.col("vec_id") % 97).cast("double") / 1e4
        d = ee.select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: (x.cast("double") * jit).cast("float"),
            ).alias("embedding"),
        )
        r = (
            semantic_dedup(d, dim=16, n_clusters=8, tau=0.99, lloyd_iters=1)
            .agg(F.sum("n_members"), F.sum("n_dropped"))
            .collect()[0]
        )
        return int(r[0])

    def run_semantic_dedup_capped(ee):
        # the CAPPED prune — the linear-bounded path of the 100 TB
        # story (round-10 VERDICT item 7): same jittered corpus as the
        # uncapped probe, neighbor side truncated to 64 rows/cluster,
        # so per-cluster candidates are |cluster|·64, not |cluster|²
        from demv_spark.operators.similarity import semantic_dedup

        jit = 1.0 + (F.col("vec_id") % 97).cast("double") / 1e4
        d = ee.select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: (x.cast("double") * jit).cast("float"),
            ).alias("embedding"),
        )
        r = (
            semantic_dedup(
                d, dim=16, n_clusters=8, tau=0.99, lloyd_iters=1,
                max_cluster=64,
            )
            .agg(F.sum("n_members"), F.sum("n_dropped"))
            .collect()[0]
        )
        return int(r[0])

    probes = [
        ("session_features_30min", run_session_features, events, events_k),
        ("dedup_e2e_lsh_cc_keepone", run_dedup_e2e, docs, docs_k),
        ("dsir_weights_512buckets", run_dsir, docs, docs_k),
        ("hll_grouped_p8", run_hll, docs, docs_k),
        ("bloom_prune_fact", run_bloom_prune, orders, orders_k),
        ("chunk_windows_64_16", run_chunk_windows, docs, docs_k),
        ("topk_chunked_qx", run_topk_chunked, vecs_1, vecs_k),
        ("index_log_replay_resolve", run_index_log_replay, docs, docs_k),
        ("cdc_log_replay_snapshot", run_cdc_log_replay, orders, orders_k),
        ("countmin_build", run_countmin, docs, docs_k),
        ("bloom_build_256kbits", run_bloom_build, docs, docs_k),
        ("kmv_grouped", run_kmv, docs, docs_k),
        ("phrase_search_3gram", run_phrase_search, docs, docs_k),
        ("cdc_snapshot", run_cdc_snapshot, orders, orders_k),
        ("cross_doc_dup_rate", run_dup_rate, docs, docs_k),
        ("pack_sequences_32shards", run_pack_sequences, docs, docs_k),
        ("zorder_census", run_zorder_census, orders, orders_k),
        ("exact_dedup", run_exact, docs, docs_k),
        ("shard_assignment_64", run_shard_assignment, docs, docs_k),
        ("vocab_coverage", run_vocab_coverage, docs, docs_k),
        ("corpus_diff", run_corpus_diff, docs, docs_k),
        ("incremental_admission", run_incremental_admission, docs, docs_k),
        ("fuzzy_join_fixed_batch", run_fuzzy_join_fixed_batch, part, part_k),
        ("pq_encode", run_pq_encode, vecs_1, vecs_k),
        ("pagerank_5iter", run_pagerank, docs, docs_k),
        ("validate_report", run_validate, orders, orders_k),
        ("funnel_census", run_funnel, events, events_k),
        ("quantized_topk", run_quantized_topk, vecs_1, vecs_k),
        ("near_dup_cand_16planes_8bit", run_near_dup_narrow, vecs_1, vecs_k),
        ("near_dup_cand_64planes_16bit", run_near_dup_wide, vecs_1, vecs_k),
        ("cap_per_key_plain", run_cap_plain, docs, docs_k),
        ("cap_per_key_salted", run_cap_salted, docs, docs_k),
        ("split_and_canon_url", run_split_canon, docs, docs_k),
        ("minhash_lsh_pairs", run_lsh, docs, docs_k),
        ("ngram_jaccard_pairs", run_jaccard, docs, docs_k),
        ("corpus_clean", run_clean, docs, docs_k),
        ("hashed_linear_clf", run_qclf, docs, docs_k),
        ("domain_blocklist_flag", run_domain_filter, docs, docs_k),
        ("demv_rebalance", run_rebalance, orders, orders_k),
        ("multiclass_quota", run_quota, orders, orders_k),
        ("ntile_plain_single_task", run_ntile_plain, orders, orders_k),
        ("ntile_range_bucketed", run_ntile_bucketed, orders, orders_k),
        ("ntile_bucketed_half_dup_key", run_ntile_bucketed_skew,
         orders_skew, orders_skew_k),
        ("smote_exact_knn", run_smote_exact, clf_base, clf_k),
        ("smote_lsh", run_smote_lsh, clf_base, clf_k),
        ("adasyn_lsh", run_adasyn_lsh, clf_base, clf_k),
        ("hamming_random_candidates", run_hamming_random, docs, docs_k),
        ("hamming_planted_pairs", run_hamming_planted, docs, docs_k),
        ("bm25_batch_3q", run_bm25_batch, docs, docs_k),
        ("triangle_census", run_triangles, docs, docs_k),
        ("salted_skew_join", run_salted_join, orders, orders_k),
        ("hilbert_key_census", run_hilbert, orders, orders_k),
        ("pca_covariance_census", run_covariance, emb, emb_k),
        ("semantic_dedup_e2e", run_semantic_dedup, emb, emb_k),
        ("semantic_dedup_capped64", run_semantic_dedup_capped, emb, emb_k),
        ("kcore_peel_k2", run_kcore, docs, docs_k),
        ("repeated_ngram_census", run_repeated_ngrams, docs, docs_k),
        ("span_trim", run_span_trim, docs, docs_k),
        ("decontaminate_near_fixed_bench", run_decontaminate_near, docs, docs_k),
        ("hard_negatives_fixed_queries", run_hard_negatives, emb, emb_k),
    ]
    only = [a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--only=")]
    if only:
        probes = [p for p in probes if any(s in p[0] for s in only)]
    # optional positional filters: any non-numeric, non-flag args are
    # substring selectors over probe names (run only what matches)
    sel = [a for a in sys.argv[1:] if not a.isdigit() and not a.startswith("--")]
    for name, fn, d1, dk in probes:
        if sel and not any(s in name for s in sel):
            continue
        fn(d1)  # warm the plan shape (codegen) before timing
        r = probe(name, fn, d1, dk)
        r["k"] = k
        print(json.dumps(r))


if __name__ == "__main__":
    main()
