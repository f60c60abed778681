"""duplicate_clusters (large-star/small-star connected components)
and canonical_filter invariants, checked against a driver-side
union-find brute force."""

import random

import pyspark.sql.functions as F
import pytest

from demv_spark.operators import dedup


def _clusters(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = dedup.duplicate_clusters(df)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label every node by component minimum
    comp = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


def test_chain_closes_transitively(spark):
    got = _clusters(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components_and_cycle(spark):
    got = _clusters(spark, [(10, 11), (11, 12), (12, 10), (20, 21)])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_needs_multiple_rounds(spark):
    # diameter 32: naive flooding would need 32 rounds; star rounds
    # are logarithmic, so this must converge well under max_iter
    pairs = [(i, i + 1) for i in range(1, 33)]
    random.Random(7).shuffle(pairs)
    got = _clusters(spark, pairs)
    assert got == {i: 1 for i in range(1, 34)}


def test_duplicate_and_reversed_pairs_are_harmless(spark):
    got = _clusters(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(100, 200))
    pairs = [tuple(rng.sample(nodes, 2)) for _ in range(80)]
    got = _clusters(spark, pairs)
    assert got == _union_find(pairs)


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    out = dedup.duplicate_clusters(df)
    assert out.count() == 0
    assert out.columns == ["doc_id", "cluster_id"]


def test_null_and_self_pairs_dropped(spark):
    got = _clusters(spark, [(1, 1), (None, 5), (2, None), (2, 3)])
    assert got == {2: 2, 3: 2}


def test_canonical_filter_keeps_one_per_cluster(spark):
    docs = spark.range(0, 10).withColumnRenamed("id", "doc_id").withColumn(
        "text", F.concat(F.lit("d"), F.col("doc_id"))
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    clusters = dedup.duplicate_clusters(pairs)
    kept = dedup.canonical_filter(docs, clusters)
    kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # 2,3 collapse into 1; 8 collapses into 7; everything unpaired stays
    assert kept_ids == [0, 1, 4, 5, 6, 7, 9]


def test_lsh_pipeline_composes(spark, request):
    # end to end on real near-dup pairs: every cluster member must be
    # connected to its root through the pair graph
    rows = [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16)
    clusters = dedup.duplicate_clusters(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    want = _union_find([(r["id_a"], r["id_b"]) for r in pairs.collect()])
    assert got == want


def test_incremental_admission_verdicts(spark):
    from demv_spark.operators.dedup import incremental_admission

    store = spark.createDataFrame([("a",), ("b",)], "fp string")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "c"), (3, "c"), (4, None), (5, None), (6, "b")],
        "doc_id long, fp string",
    )
    got = {r["doc_id"]: r["verdict"]
           for r in incremental_admission(batch, store).collect()}
    assert got == {
        1: "dup_corpus",          # fp in store
        2: "admitted",            # first of the new fp within batch
        3: "dup_batch",           # second of the same new fp
        4: "admitted",            # NULL never matches store; first NULL wins
        5: "dup_batch",
        6: "dup_corpus",
    }


def test_incremental_admission_non_unique_store_never_fans_out(spark):
    from demv_spark.operators.dedup import incremental_admission

    store = spark.createDataFrame([("a",), ("a",), ("a",)], "fp string")
    batch = spark.createDataFrame([(1, "a"), (2, "x")], "doc_id long, fp string")
    out = incremental_admission(batch, store)
    assert out.count() == 2       # one output row per batch row, always


def test_incremental_admission_idempotent_across_reruns(spark):
    from demv_spark.operators.dedup import incremental_admission

    store = spark.createDataFrame([("a",)], "fp string")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "c"), (3, "c")], "doc_id long, fp string"
    )
    first = incremental_admission(batch, store)
    admitted = first.filter("verdict = 'admitted'").select("fp")
    # appending the admitted fps and re-running the SAME batch must
    # admit nothing new (ingest idempotency)
    store2 = store.union(admitted)
    second = incremental_admission(batch, store2)
    assert second.filter("verdict = 'admitted'").count() == 0


def test_cross_doc_dup_rate_hand_computed(spark):
    from demv_spark.operators.dedup import cross_doc_dup_rate

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),        # bigrams: the cat, cat sat, sat on, on the, the mat
            (2, "the cat ran"),                   # the cat, cat ran
            (3, "a dog sat on the mat"),          # a dog, dog sat, sat on, on the, the mat
            (4, "zz"),                            # < 2 tokens -> absent
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_ngrams"], r["n_shared"]) for r in
           cross_doc_dup_rate(docs, n=2).collect()}
    # doc1: 5 distinct bigrams; shared: "the cat"(d2), "sat on"(d3),
    # "on the"(d3), "the mat"(d3) -> 4
    assert got[1] == (5, 4)
    assert got[2] == (2, 1)       # "the cat"
    assert got[3] == (5, 3)       # sat on, on the, the mat
    assert 4 not in got


def test_cross_doc_dup_rate_duplicate_ngrams_within_doc_count_once(spark):
    from demv_spark.operators.dedup import cross_doc_dup_rate

    docs = spark.createDataFrame(
        [(1, "go go go go"), (2, "go go")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_ngrams"], r["n_shared"]) for r in
           cross_doc_dup_rate(docs, n=2).collect()}
    # doc1 has one DISTINCT bigram "go go" (appearing 3x) -> counts once
    assert got[1] == (1, 1) and got[2] == (1, 1)


def test_best_of_cluster_quality_argmax(spark):
    from demv_spark.operators.dedup import best_of_cluster, duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    clusters = duplicate_clusters(pairs)
    quality = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 1), (11, 1)],
        "doc_id long, quality long",
    )
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
           best_of_cluster(clusters, quality).collect()}
    # cluster {1,2,3}: max quality 9 tied between 2 and 3 -> min id 2
    assert got[1] == (1, False) and got[2] == (1, True) and got[3] == (1, False)
    # cluster {10,11}: tie -> 10
    assert got[10] == (10, True) and got[11] == (10, False)


def test_best_of_cluster_deterministic_and_no_udf(spark):
    from demv_spark.operators.dedup import best_of_cluster, duplicate_clusters
    from demv_spark.plans.introspect import plan_stats

    pairs = spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)],
                                  "id_a long, id_b long")
    quality = spark.createDataFrame([(i, i % 7) for i in range(50)],
                                    "doc_id long, quality long")
    clusters = duplicate_clusters(pairs)
    a = sorted(map(tuple, best_of_cluster(clusters, quality).collect()))
    b = sorted(map(tuple, best_of_cluster(
        clusters.repartition(5), quality.repartition(3)).collect()))
    assert a == b
    assert not plan_stats(best_of_cluster(clusters, quality))["has_python_udf"]
    # exactly one keep per cluster
    from collections import Counter
    keeps = Counter(r[1] for r in a if r[3])
    assert all(v == 1 for v in keeps.values())


def test_best_of_cluster_string_ids(spark):
    """Review r7: the argmax tie-break must be type-generic — the
    old max_by(doc_id, struct(quality, -doc_id)) negated the id and
    failed at plan time for string ids."""
    from demv_spark.operators.dedup import best_of_cluster, duplicate_clusters

    pairs = spark.createDataFrame(
        [("urlA", "urlB"), ("urlB", "urlC")], "id_a string, id_b string"
    )
    clusters = duplicate_clusters(pairs)
    quality = spark.createDataFrame(
        [("urlA", 2), ("urlB", 5), ("urlC", 5)], "doc_id string, quality long"
    )
    got = {r["doc_id"]: r["keep"] for r in
           best_of_cluster(clusters, quality).collect()}
    # max quality 5 tied between B and C -> lexicographic min id B
    assert got == {"urlA": False, "urlB": True, "urlC": False}


def test_repeated_ngram_census_counts_cross_doc_repeats(spark):
    import pyspark.sql.functions as F  # noqa: F401

    from demv_spark.operators.dedup import repeated_ngram_census

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over it"),
            (2, "the quick brown fox sat very still"),
            (3, "completely different words only here now"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_ngram_census(df, n=4).collect()}
    # docs 1 and 2 share exactly one 4-gram: 'the quick brown fox'
    assert out[1].n_grams == 4 and out[1].n_repeated_pos == 1
    assert out[2].n_grams == 4 and out[2].n_repeated_pos == 1
    assert out[1].n_distinct_repeated == 1
    assert out[3].n_repeated_pos == 0 and out[3].n_distinct_repeated == 0


def test_repeated_ngram_census_within_doc_repeat_is_not_cross_doc(spark):
    from demv_spark.operators.dedup import repeated_ngram_census

    df = spark.createDataFrame(
        [(1, "a b a b a b a b"), (2, "c d e f g h i j")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_ngram_census(df, n=3).collect()}
    # doc 1 repeats its own grams, but df(gram) = 1 DOC — repeated
    # exposure is a CROSS-document signal (Lee et al. memorization
    # risk), so nothing counts
    assert out[1].n_repeated_pos == 0


def test_repeated_ngram_census_max_df_drops_stop_phrases(spark):
    from demv_spark.operators.dedup import repeated_ngram_census

    rows = [(i, "common stop phrase here unique%d tail" % i) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {r.doc_id: r for r in repeated_ngram_census(df, n=3).collect()}
    capped = {
        r.doc_id: r
        for r in repeated_ngram_census(df, n=3, max_df=5).collect()
    }
    # 'common stop phrase'/'stop phrase here' hit all 10 docs: counted
    # uncapped, dropped by max_df=5; n_grams itself is unchanged
    assert uncapped[0].n_repeated_pos >= 2
    assert capped[0].n_repeated_pos == 0
    assert capped[0].n_grams == uncapped[0].n_grams


def test_recall_at_k_census(spark):
    from demv_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    # approx missed 12 for q1, returned a stranger 99; missed q2 ENTIRELY
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 11, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {r.query_id: r for r in recall_at_k(approx, exact, k=3).collect()}
    assert out[1].n_exact == 3 and out[1].n_hits == 2
    # dropped queries are charged, not skipped
    assert out[2].n_exact == 3 and out[2].n_hits == 0
    # k filter applies to both sides
    out1 = {r.query_id: r for r in recall_at_k(approx, exact, k=1).collect()}
    assert out1[1].n_exact == 1 and out1[1].n_hits == 1


def test_recall_at_k_duplicate_rows_do_not_inflate(spark):
    from demv_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2), (1, 11, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    # approx lists neighbor 10 twice within its top-k: without the
    # projected-set distinct the left join would multiply and inflate
    # both n_exact and n_hits (round-10 ADVICE finding)
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2), (1, 10, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {r.query_id: r for r in recall_at_k(approx, exact, k=3).collect()}
    assert out[1].n_exact == 2  # {10, 11}, not 3 raw rows or a 2x join
    assert out[1].n_hits == 1


def test_span_trim_removes_repeated_spans_and_merges_overlaps(spark):
    from demv_spark.operators.dedup import span_trim

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox leaps high today"),
        (3, "totally unique content nothing shared here"),
        (4, "short doc"),
        # overlapping + adjacent repeats merge into ONE maximal span
        (7, "quick brown fox quick brown fox tail end bit"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_trim(df, n=3, min_df=2).collect()}
    assert out[1].text == "the jumps over the lazy dog"
    assert (out[1].n_tokens_before, out[1].n_tokens_after,
            out[1].n_spans_removed) == (9, 6, 1)
    assert out[2].text == "a leaps high today"
    # untouched docs pass through verbatim (canonicalized join)
    assert out[3].text == "totally unique content nothing shared here"
    assert out[3].n_spans_removed == 0
    assert out[4].n_tokens_before == out[4].n_tokens_after == 2
    # starts at 0 and 3 with n=3: gap == n is adjacency -> one span
    assert out[7].text == "tail end bit"
    assert out[7].n_spans_removed == 1


def test_span_trim_property_no_repeated_gram_survives(spark):
    """Lee et al. invariant: after trimming, NO n-gram of the
    surviving corpus can still reach df >= min_df among grams that
    were repeated before — verified by re-running the census on the
    trimmed text and demanding zero repeated positions for grams that
    existed pre-trim. (Trimming can create NEW grams by abutting
    survivors; those are excluded — the contract is about the
    original repeated substrings, which cannot survive because every
    covering position was removed.)"""
    import random

    from demv_spark.operators.dedup import shingles, span_trim

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    quote = "alpha beta gamma delta epsilon"
    docs = []
    for i in range(40):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 30)))
        if i % 3 == 0:  # plant the shared quote in a third of docs
            cut = rng.randint(0, len(body.split()))
            ws = body.split()
            body = " ".join(ws[:cut] + quote.split() + ws[cut:])
        docs.append((i, body))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    n, min_df = 3, 2

    before = df.select(F.explode(shingles("text", n)).alias("sh"), "doc_id")
    rep_before = {
        r.sh
        for r in before.distinct().groupBy("sh").count()
        .filter(F.col("count") >= min_df).collect()
    }
    assert rep_before  # the plant guarantees repeated grams exist

    trimmed = span_trim(df, n=n, min_df=min_df)
    after = trimmed.select(F.explode(shingles("text", n)).alias("sh"))
    survivors = {r.sh for r in after.distinct().collect()} & rep_before
    assert survivors == set(), f"repeated grams survived: {survivors}"
    # and the census is internally consistent
    bad = trimmed.filter(
        F.col("n_tokens_after") > F.col("n_tokens_before")
    ).count()
    assert bad == 0


def test_decontaminate_spans_removes_benchmark_windows(spark):
    from demv_spark.operators.dedup import decontaminate_spans

    corpus = spark.createDataFrame(
        [
            (1, "intro words the secret eval answer is here plus trailing text"),
            (2, "completely clean document with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the secret eval answer is the key")], "q long, text string"
    )
    out = {r.doc_id: r for r in
           decontaminate_spans(corpus, bench, n=3, margin=0).collect()}
    # grams of doc 1 matching bench 3-grams: "the secret eval",
    # "secret eval answer", "eval answer is" -> starts 2,3,4 merge to
    # one span covering tokens 2..6
    assert out[1].text == "intro words here plus trailing text"
    assert out[1].n_spans_removed == 1
    assert (out[1].n_tokens_before, out[1].n_tokens_after) == (11, 6)
    assert out[2].text == "completely clean document with no overlap at all"
    assert out[2].n_spans_removed == 0


def test_decontaminate_spans_margin_widens_and_clamps(spark):
    from demv_spark.operators.dedup import decontaminate_spans

    corpus = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(1, "cc dd ee")], "q long, text string")
    # margin=0: tokens 2..4 go
    m0 = decontaminate_spans(corpus, bench, n=3, margin=0).collect()[0]
    assert m0.text == "aa bb ff gg hh"
    # margin=1: tokens 1..5 go
    m1 = decontaminate_spans(corpus, bench, n=3, margin=1).collect()[0]
    assert m1.text == "aa gg hh"
    assert m1.n_spans_removed == 1
    # margin large enough to clamp at both ends: everything goes
    m9 = decontaminate_spans(corpus, bench, n=3, margin=9).collect()[0]
    assert m9.text == "" and m9.n_tokens_after == 0


def test_decontaminate_near_flags_paraphrases_not_strangers(spark):
    from demv_spark.operators.dedup import decontaminate_near

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "completely different content about spark dataframes and shuffles"),
            (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog near the river bank today")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           decontaminate_near(corpus, bench, shingle_n=3, threshold=0.4).collect()}
    assert out[1].est_jaccard == 1.0 and out[1].bench_id == 100
    # one-word paraphrase: high but < 1 — the case exact n-gram
    # decontamination would score only partially and doc-level
    # containment might miss
    assert 0.5 < out[3].est_jaccard < 1.0
    assert 2 not in out
    # threshold filters
    strict = decontaminate_near(corpus, bench, shingle_n=3, threshold=0.999)
    assert {r.doc_id for r in strict.collect()} == {1}


def test_cc_rounds_release_only_their_own_rdds(spark, monkeypatch):
    """Each CC round frees its own checkpoint RDD once the next round
    has materialized. An RDD that another caller pins while a round
    runs is not the call's to free: it must still be pinned after the
    call returns, and only the final round's checkpoint stays."""
    jsc = spark.sparkContext._jsc
    frame_cls = type(spark.range(1))
    orig = frame_cls.localCheckpoint
    foreign = []

    def checkpoint_and_pin_foreign(self, *a, **kw):
        out = orig(self, *a, **kw)
        if not foreign:
            rdd = spark.sparkContext.parallelize([1, 2, 3]).cache()
            rdd.count()
            foreign.append(rdd)
        return out

    before = set(jsc.getPersistentRDDs().keySet().toArray())
    monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint_and_pin_foreign)
    pairs = [(i, i + 1) for i in range(12)]
    assert _clusters(spark, pairs) == _union_find(pairs)
    monkeypatch.undo()
    try:
        pinned = set(jsc.getPersistentRDDs().keySet().toArray())
        assert foreign[0].id() in pinned, "a round released a foreign RDD"
        assert len(pinned - before - {foreign[0].id()}) <= 1
    finally:
        foreign[0].unpersist()
